package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import graft.model.ExtractResult
import graft.pipeline.{Extractor, PagesSynth}

/** Regenerates the frozen golden fixtures (FIXTURES.md §2). Run ONLY on an
  * intentional extractor_version bump:
  *   sbt "runMain graft.jobs.GoldenGen"
  * Writes src/test/resources/golden_extracted.tsv with one row per url:
  * url, sha256(text), document_type, type_confidence, confidence, status;
  * and src/test/resources/golden_rows.tsv with one row per url: url,
  * sha256 over every column of the ExtractResult ([[render]]).
  * The byte-identity contract: GoldenSpec recomputes extraction and both
  * hashes must match EXACTLY.
  */
object GoldenGen {

  val Rows = 400L

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  def line(i: Long): String = {
    val r = Extractor.extract(PagesSynth.row(i))
    List(r.url, sha256(r.text), r.document_type,
      r.type_confidence.toString, r.confidence.toString, r.status)
      .mkString("\t")
  }

  /** Canonical rendering of every column: strings are length-prefixed,
    * doubles print exactly, sequences render the same whatever their
    * collection type. */
  def render(r: ExtractResult): String = {
    val sb = new java.lang.StringBuilder(256)
    def str(s: String): Unit =
      if (s == null) sb.append("N;") else sb.append(s.length).append(':').append(s).append(';')
    def dbl(d: Double): Unit = sb.append(java.lang.Double.toString(d)).append(';')
    def seq[T](xs: Seq[T])(f: T => Unit): Unit = {
      sb.append('['); xs.foreach(f); sb.append(']')
    }
    str(r.url)
    str(if (r.warc_ts == null) null else s"${r.warc_ts.getTime}/${r.warc_ts.getNanos}")
    str(r.text); dbl(r.confidence)
    str(r.document_type); dbl(r.type_confidence); str(r.layout_type)
    seq(r.fields) { f => str(f.name); str(f.value); str(f.raw_ocr); str(f.confidence_level) }
    seq(r.warnings)(str)
    val c = r.card_analysis
    sb.append(c.detected).append(c.candidate_count).append(';')
      .append(c.luhn_valid_count).append(c.requires_manual_review)
    seq(c.candidates) { k =>
      str(k.masked); sb.append(k.length).append(k.luhn_valid); str(k.brand_guess)
    }
    dbl(r.quality.quality_score); str(r.quality.classification); seq(r.quality.reasons)(str)
    val a = r.analytics
    dbl(a.coverage_ratio); dbl(a.readability_index)
    val d = a.decision_readiness
    dbl(d.score); sb.append(d.ready); seq(d.missing_mandatory)(str); str(d.recommendation)
    str(a.quality_band); sb.append(a.requires_manual_review); seq(a.remediation_hints)(str)
    a.field_completeness_ratio.fold(sb.append("None;"))(x => { dbl(x); sb })
    sb.append(a.fields_extracted_count).append(';').append(a.fields_expected_count).append(';')
    str(r.language_guess); str(r.country_guess); str(r.status); seq(r.errors)(str)
    seq(r.fallback_chain)(str); sb.append(r.bytes_in)
    sb.toString
  }

  def rowLine(i: Long): String = {
    val r = Extractor.extract(PagesSynth.row(i))
    r.url + "\t" + sha256(render(r))
  }

  private def write(file: String, f: Long => String): Unit = {
    val out = new StringBuilder
    out ++= s"# golden fixture, extractor ${graft.model.Model.ExtractorVersion}\n"
    (0L until Rows).foreach { i => out ++= f(i); out += '\n' }
    val path = java.nio.file.Paths.get("src/test/resources", file)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.toString)
    println(s"wrote $path (${Rows} rows)")
  }

  def main(args: Array[String]): Unit = {
    write("golden_extracted.tsv", line)
    write("golden_rows.tsv", rowLine)
  }
}
