package graft.jobs

import graft.pipeline.PagesSynth

/** Single-threaded per-stage cost breakdown of the extraction kernel —
  * identifies which post-parse analytics stage dominates per-doc cost.
  * Tooling main (no Spark session).
  *
  * Usage: sbt "runMain graft.jobs.KernelProbe [docs]"
  */
object KernelProbe {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 8000
    val rows = (0L until n.toLong).map(PagesSynth.row).toArray

    // warm everything twice
    rows.take(2000).foreach(graft.pipeline.Extractor.extract)
    rows.take(2000).foreach(graft.pipeline.Extractor.extract)

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val sink = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[kernel] $label%-16s ${n / sec}%9.1f docs/s  " +
        f"${sec * 1e6 / n}%8.1f us/doc  (sink=$sink)")
    }

    timed("end-to-end") {
      var s = 0L; rows.foreach(r => s += graft.pipeline.Extractor.extract(r).text.length); s
    }
    // stage-by-stage over the html docs
    val doms = rows.map(r => graft.html.HtmlTokenizer.parse(r.html))
    timed("parse") {
      var s = 0L; rows.foreach(r => s += graft.html.HtmlTokenizer.parse(r.html).size); s
    }
    val segs = doms.map(graft.html.BlockSegmenter.segment)
    timed("segment") {
      var s = 0L; doms.foreach(d => s += graft.html.BlockSegmenter.segment(d).blocks.size); s
    }
    val texts = segs.map { sg =>
      graft.text.Sanitizer.sanitize(graft.html.ContentClassifier.assemble(
        graft.html.ContentClassifier.ladderLayers(sg.blocks)._1))
    }
    timed("classify+asm") {
      var s = 0L
      segs.foreach { sg =>
        s += graft.html.ContentClassifier.assemble(
          graft.html.ContentClassifier.ladderLayers(sg.blocks)._1).length
      }
      s
    }
    timed("sanitize") {
      var s = 0L
      segs.foreach { sg =>
        s += graft.text.Sanitizer.sanitize(graft.html.ContentClassifier
          .assemble(graft.html.ContentClassifier.ladderLayers(sg.blocks)._1)).length
      }
      s
    }
    timed("quality") {
      var s = 0L; texts.foreach(t => s += graft.text.Quality.evaluate(t, "other").reasons.size); s
    }
    timed("cardintel") {
      var s = 0L
      texts.foreach { t =>
        val lower = t.toLowerCase
        s += graft.text.CardIntel.analyzeLower(t, lower, "standard_form")._3.candidate_count
      }
      s
    }
    timed("fields") {
      var s = 0L
      texts.foreach { t =>
        val p = graft.text.TextProfile(t)
        val (docType, _, _) = graft.text.CardIntel.analyze(p, "standard_form")
        s += graft.text.FieldExtractor.extract(p, docType, graft.text.FieldExtractor.DefaultRunYear)._1.size
      }
      s
    }
    timed("confidence") {
      var s = 0L
      texts.foreach { t =>
        s += (graft.text.Confidence.calculateLower(t, t.toLowerCase) * 100).toLong
      }
      s
    }
    timed("marktail") {
      var s = 0L
      texts.foreach(t => s += graft.text.CardScore.markUncertainPartialCardTail(t).length)
      s
    }
  }
}
