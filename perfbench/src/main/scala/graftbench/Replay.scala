package graftbench

import scala.collection.mutable

import graft.html.{BlockSegmenter, ContentClassifier, HtmlTokenizer}
import graft.model.PageRow
import graft.pdf.PdfParser
import graft.pipeline.Extractor
import graft.text._

/** Single-threaded replay of the extraction kernel over sampled rows,
  * one span per call into a public kernel function, in the order
  * `Extractor.extract` makes those calls. `Extractor.extract` is also
  * timed whole on the same rows, so the share of kernel time the spans
  * cover is measured rather than assumed. A replay whose text differs
  * from `Extractor.extract`'s is counted, since its breakdown would no
  * longer describe the kernel. */
final class Replay(t: Tracer) {
  private val CriticalDocTypes = Set(
    "bank_statement", "loan_application", "kyc_form", "contract", "disclosure")

  var htmlDocs = 0; var pdfDocs = 0; var pdfPages = 0L; var pdfBytes = 0L
  var pdfEmpty = 0; var layer1Good = 0; var layer3 = 0; var mismatches = 0
  var wholeUs = 0L; var docs = 0

  private def s[T](parent: Int, name: String, layer: String)(f: => T): T =
    t.span(parent, name, layer)(_ => f)

  /** Replays `rows` under `parent`; each document gets its own span. */
  def run(rows: Seq[PageRow], parent: Int): Unit = rows.foreach { row =>
    val text = t.span(parent, "extract", "pipeline")(id => one(row, id))
    val w0 = System.nanoTime()
    val whole = Extractor.extract(row)
    wholeUs += (System.nanoTime() - w0) / 1000L
    docs += 1
    if (whole.text != text) mismatches += 1
  }

  // Extractor turns every kernel exception into an empty-text status row
  private def one(row: PageRow, id: Int): String =
    try {
      if (row.html == null || row.html.isEmpty || row.html.length > Extractor.MaxBytes) ""
      else if (PdfParser.isPdf(row.html)) pdf(row, id)
      else html(row, id)
    } catch { case scala.util.control.NonFatal(_) => "" }

  private def pdf(row: PageRow, id: Int): String = {
    pdfDocs += 1; pdfBytes += row.html.length
    val pages = s(id, "parse", "pdf")(PdfParser.extractPages(row.html))
    pdfPages += pages.size
    val raw = pages.mkString(PdfParser.PageBreak)
    if (raw.isEmpty) pdfEmpty += 1
    val text = s(id, "sanitize", "text")(Sanitizer.sanitize(raw))
    val lines = raw.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toVector
    val layout =
      if (lines.isEmpty) "empty"
      else {
        val total = math.max(1L, lines.map(_.length.toLong).sum).toDouble
        val maxShare = lines.map(_.length / total).max
        if (lines.size > 20 && maxShare < 0.1) "dense_text"
        else if (lines.size < 10 && maxShare > 0.4) "large_blocks"
        else "standard_form"
      }
    finish(row, text, layout, id)
  }

  private def html(row: PageRow, id: Int): String = {
    htmlDocs += 1
    val dom = s(id, "tokenize", "html")(HtmlTokenizer.parse(row.html))
    val (seg, layoutType) = s(id, "segment", "html") {
      val g = BlockSegmenter.segment(dom); (g, g.layoutType)
    }
    val (mainBlocks, allBlocks, identical) =
      s(id, "classify", "html")(ContentClassifier.ladderLayers(seg.blocks))
    val l1 = clean(s(id, "classify", "html")(ContentClassifier.assemble(mainBlocks)), id)
    val q1 = s(id, "quality", "text")(Quality.evaluate(l1, "other"))
    var text = l1
    if (q1.classification == "GOOD") layer1Good += 1
    else {
      val l2 = if (identical) l1
        else clean(s(id, "classify", "html")(ContentClassifier.assemble(allBlocks)), id)
      val q2 = if (identical) q1 else s(id, "quality", "text")(Quality.evaluate(l2, "other"))
      text = l2
      if (q2.classification != "GOOD") {
        val (detType, _, _) = s(id, "classify", "text")(CardIntel.analyze(l2, layoutType))
        if (CriticalDocTypes.contains(detType) || l2.isEmpty) {
          layer3 += 1
          val l3 = clean(s(id, "classify", "html")(
            ContentClassifier.assemble(ContentClassifier.fullText(seg.blocks))), id)
          text = l3
          s(id, "quality", "text")(Quality.evaluate(l3, "other"))
        }
      }
    }
    finish(row, text, layoutType, id)
  }

  private def clean(assembled: String, id: Int): String =
    s(id, "sanitize", "text")(Sanitizer.sanitize(assembled))

  private def finish(row: PageRow, sanitized: String, layout: String, id: Int): String = {
    val text = s(id, "classify", "text")(CardScore.markUncertainPartialCardTail(sanitized))
    val lower = text.toLowerCase
    val foldSafe = lower.length == text.length && !hasFoldDivergent(text)
    val (docType, typeConfRaw, _) =
      s(id, "classify", "text")(CardIntel.analyzeLower(text, lower, layout))
    val typeConfidence = pyRound(typeConfRaw, 2)
    val (fields, _) = s(id, "fields", "text")(
      FieldExtractor.extractLower(text, lower, docType, FieldExtractor.DefaultRunYear, foldSafe))
    s(id, "confidence", "text")(Confidence.calculateLower(text, lower))
    s(id, "quality", "text")(Quality.evaluate(text, docType, Some(foldSafe)))
    s(id, "readiness", "text") {
      Readiness.compute(docType, fields, typeConfidence); Readiness.qualityBand(typeConfidence)
    }
    s(id, "lang", "text")(LangHints.detectLower(text, lower, foldSafe))
    text
  }

  /** Per-layer numbers from the spans under `root`. */
  def metrics(root: Int): Map[String, Double] = {
    val spans = t.all
    val self = t.selfUs
    val docSpans = spans.filter(x => x.parent == root && x.name == "extract").map(_.id).toSet
    val calls = spans.filter(x => docSpans.contains(x.parent))
    val us = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    calls.foreach(c => us(s"${c.layer}.${c.name}") += c.durUs)
    val n = math.max(docs, 1).toDouble
    val nh = math.max(htmlDocs, 1).toDouble
    val np = math.max(pdfDocs, 1).toDouble
    val covered = calls.map(_.durUs).sum.toDouble
    val layerSelf = calls.groupBy(_.layer).map { case (l, cs) => l -> cs.map(c => self(c.id)).sum.toDouble }
    val rootSelf = docSpans.toSeq.map(self).sum.toDouble
    Map(
      "html.tokenize_us_per_doc" -> us("html.tokenize") / nh,
      "html.segment_us_per_doc" -> us("html.segment") / nh,
      "html.classify_us_per_doc" -> us("html.classify") / nh,
      "html.docs" -> htmlDocs.toDouble,
      "html.layer1_accept_frac" -> (if (htmlDocs == 0) 0.0 else layer1Good / nh),
      "html.layer3_frac" -> (if (htmlDocs == 0) 0.0 else layer3 / nh),
      "html.self_us_per_doc" -> layerSelf.getOrElse("html", 0.0) / n,
      "pdf.parse_us_per_doc" -> us("pdf.parse") / np,
      "pdf.parse_us_per_page" -> us("pdf.parse") / math.max(pdfPages, 1L),
      "pdf.docs" -> pdfDocs.toDouble,
      "pdf.input_kb_per_doc" -> pdfBytes / 1024.0 / np,
      "pdf.empty_text_frac" -> (if (pdfDocs == 0) 0.0 else pdfEmpty / np),
      "pdf.self_us_per_doc" -> layerSelf.getOrElse("pdf", 0.0) / n,
      "text.sanitize_us_per_doc" -> us("text.sanitize") / n,
      "text.quality_us_per_doc" -> us("text.quality") / n,
      "text.classify_us_per_doc" -> us("text.classify") / n,
      "text.fields_us_per_doc" -> us("text.fields") / n,
      "text.confidence_us_per_doc" -> us("text.confidence") / n,
      "text.lang_us_per_doc" -> us("text.lang") / n,
      "text.readiness_us_per_doc" -> us("text.readiness") / n,
      "text.self_us_per_doc" -> layerSelf.getOrElse("text", 0.0) / n,
      "pipeline.extract_us_per_doc" -> wholeUs / n,
      "pipeline.kernel_covered_frac" -> (if (wholeUs == 0) 0.0 else covered / wholeUs),
      "pipeline.self_us_per_doc" -> rootSelf / n,
      "pipeline.replay_docs" -> docs.toDouble,
      "pipeline.replay_text_mismatches" -> mismatches.toDouble)
  }
}
