package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.model.PageRow
import graft.pdf.PdfParser
import graft.pipeline.PagesSynth
import graft.sources.Warc

/** Seeded input generators, one per workload. The same (workload, seed,
  * docs) always produces byte-identical inputs; the program under test
  * only ever sees the files written here. Each generator writes its
  * inputs plus a `manifest.json` with the counts the output checks need
  * (docs, payload bytes, and for curation the planted truth). */
object Gen {

  /** Window of PagesSynth row indices a seed selects: disjoint per seed. */
  def synthBase(seed: Long): Long = 1000000L * (1L + java.lang.Math.floorMod(seed, 100000L))

  def rng(seed: Long, i: Long): java.util.Random =
    new java.util.Random(seed * 0x9e3779b97f4a7c15L + i * 0xbf58476d1ce4e5b9L + 7L)

  /** Writes the inputs of `workload` into `dir`; returns the seconds taken. */
  def generate(workload: String, seed: Long, docs: Int, files: Int, dir: File, k: Int): Double = {
    val t0 = System.nanoTime()
    val tmp = new File(dir.getPath + ".tmp")
    Proc.deleteTree(tmp)
    workload match {
      case "crawl_warc" => crawlWarc(tmp.getPath, seed, docs, files)
      case "pdf_docs" => withSpark(k)(s => pdfDocs(s, tmp.getPath, seed, docs))
      case "curate_dedup" => withSpark(k)(s => curateCorpus(s, tmp.getPath, seed, docs))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    require(tmp.renameTo(dir), s"could not move generated inputs to $dir")
    (System.nanoTime() - t0) / 1e9
  }

  private def withSpark(k: Int)(f: SparkSession => Unit): Unit = {
    val spark = Session.start(k, "graftbench-gen")
    try f(spark) finally spark.stop()
  }

  private def writeManifest(dir: String, fields: (String, Any)*): Unit =
    Files.write(Paths.get(dir, "manifest.json"), Json.obj(fields: _*).getBytes(UTF_8))

  // ------------------------------------------------------------ crawl_warc

  /** `.warc.gz` shard: per-record gzip members, a warcinfo header, then a
    * request+response pair per page. ~10% of bodies are sent chunked and
    * ~10% with `Content-Encoding: gzip`. Pages are PagesSynth rows from
    * the seed's window (13 hot hosts, ~9% PDFs, 6% malformed). */
  def crawlWarc(dir: String, seed: Long, docs: Int, files: Int): Unit = {
    new File(dir).mkdirs()
    val base = synthBase(seed)
    val ts = java.time.Instant.ofEpochSecond(1700000000L)
    val outs = (0 until files).map { f =>
      val o = new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"shard-$f%03d.warc.gz")), 1 << 16)
      Warc.Writer.warcinfo(o, ts, gzipMember = true)
      o
    }
    var payload = 0L
    var i = 0
    while (i < docs) {
      val row = PagesSynth.row(base + i)
      val r = rng(seed, i)
      val o = outs(i % files)
      val when = row.warc_ts.toInstant
      val isPdf = PdfParser.isPdf(row.html)
      val roll = r.nextInt(10)
      Warc.Writer.request(o, row.url, when, gzipMember = true)
      Warc.Writer.response(o, row.url, when, row.html,
        httpContentType = if (isPdf) "application/pdf" else "text/html; charset=utf-8",
        chunked = roll == 0, gzipBody = roll == 1, gzipMember = true)
      payload += row.html.length
      i += 1
    }
    outs.foreach(_.close())
    writeManifest(dir, "workload" -> "crawl_warc", "seed" -> seed, "docs" -> docs,
      "payload_bytes" -> payload, "files" -> files)
  }

  // -------------------------------------------------------------- pdf_docs

  /** Parquet page table of PDFs: ~80% seeded multi-page documents with
    * FlateDecode content streams (invoices, statements, card letters; one-
    * and two-column layouts), ~20% PagesSynth's uncompressed PDF rows. */
  def pdfDocs(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    import spark.implicits._
    val base = synthBase(seed)
    val synthPdfs = Iterator.iterate(base)(_ + 1).map(PagesSynth.row)
      .filter(r => PdfParser.isPdf(r.html))
    val rows = (0 until docs).map { j =>
      if (j % 5 == 4) {
        val r = synthPdfs.next()
        r.copy(url = s"https://archive.example/synth/$seed/$j.pdf")
      } else Pdfs.document(seed, j)
    }
    val payload = rows.iterator.map(_.html.length.toLong).sum
    spark.createDataset(rows).repartition(8)
      .write.mode("overwrite").parquet(new File(dir, "pages").getPath)
    writeManifest(dir, "workload" -> "pdf_docs", "seed" -> seed, "docs" -> docs,
      "payload_bytes" -> payload)
  }

  // ---------------------------------------------------------- curate_dedup

  final case class CorpusRow(doc_id: Long, url: String, text: String,
      embedding: Array[Float])

  /** `(doc_id, url, text, embedding)` corpus with planted shares:
    * exact duplicates, near-duplicates (three words replaced, embedding
    * perturbed), boilerplate paragraphs shared across documents, PII
    * strings, non-English documents, highly repetitive documents, and
    * urls already present in a seeded previous-crawl url set. The
    * manifest records the truth the checks compare against: the number
    * of distinct texts that reach exact dedup, and the planted near-dup
    * pairs whose both sides reach it. */
  def curateCorpus(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    import spark.implicits._
    val c = Corpus.generate(seed, docs)
    spark.createDataset(c.rows).repartition(8)
      .write.mode("overwrite").parquet(new File(dir, "corpus").getPath)
    spark.createDataset(c.seenUrls).toDF("url").repartition(4)
      .write.mode("overwrite").parquet(new File(dir, "seen").getPath)
    writeManifest(dir, "workload" -> "curate_dedup", "seed" -> seed, "docs" -> docs,
      "payload_bytes" -> c.rows.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum,
      "distinct_after_gates" -> c.distinctAfterGates,
      "near_dup_pairs" -> c.nearDupPairs.map { case (x, y) => Seq(x, y) })
  }
}

/** Minimal FlateDecode PDF builder with a real page tree. */
object Pdfs {
  private val Firms = Array("Northwind", "Contoso", "Fabrikam", "Globex",
    "Initech", "Umbrella", "Stark", "Wayne", "Acme", "Tyrell")
  private val Items = Array("Consulting hours", "Server rental", "Licence fee",
    "Support plan", "Hardware kit", "Training day", "Cloud storage", "Audit")

  /** Luhn check digit over `digits` (the payload, no check digit). */
  private def luhnDigit(digits: String): Int = {
    var sum = 0
    var dbl = true
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (dbl) { d *= 2; if (d > 9) d -= 9 }
      sum += d; dbl = !dbl; i -= 1
    }
    (10 - sum % 10) % 10
  }

  private def pan(r: java.util.Random, valid: Boolean): String = {
    val body = "4" + (1 to 14).map(_ => r.nextInt(10)).mkString
    val check = luhnDigit(body)
    val d = if (valid) check else (check + 1 + r.nextInt(9)) % 10
    val s = body + d
    s"${s.substring(0, 4)} ${s.substring(4, 8)} ${s.substring(8, 12)} ${s.substring(12)}"
  }

  private def amount(r: java.util.Random): String =
    f"$$${r.nextInt(9000) + 10}%,d.${r.nextInt(100)}%02d"

  private def date(r: java.util.Random): String =
    f"2024-${r.nextInt(12) + 1}%02d-${r.nextInt(28) + 1}%02d"

  /** One page = glyph runs (x, y, text). */
  private type Page = Seq[(Int, Int, String)]

  private def column(x: Int, lines: Seq[String]): Page =
    lines.zipWithIndex.map { case (s, k) => (x, 740 - k * 14, s) }

  private def invoice(r: java.util.Random): Seq[Page] = {
    val firm = Firms(r.nextInt(Firms.length))
    val head = Seq(s"INVOICE", s"$firm Ltd, 12 Market Street",
      s"Invoice Number: INV-${100000 + r.nextInt(900000)}",
      s"Invoice Date: ${date(r)}", s"Due Date: ${date(r)}",
      s"Bill To: ${Firms(r.nextInt(Firms.length))} GmbH")
    val items = (0 until 12 + r.nextInt(20)).map { _ =>
      s"${Items(r.nextInt(Items.length))} x ${1 + r.nextInt(9)}  ${amount(r)}"
    }
    val tail = Seq(s"Subtotal: ${amount(r)}", s"Tax: ${amount(r)}",
      s"Total Amount Due: ${amount(r)}",
      s"Paid by card ${pan(r, valid = r.nextInt(3) > 0)}")
    (head ++ items ++ tail).grouped(40).map(column(72, _)).toSeq
  }

  private def statement(r: java.util.Random): Seq[Page] = {
    val pages = 2 + r.nextInt(3)
    val head = Seq("BANK STATEMENT", s"Account Number: ${10000000 + r.nextInt(90000000)}",
      s"Statement Period: ${date(r)} to ${date(r)}",
      s"Opening Balance: ${amount(r)}")
    (0 until pages).map { p =>
      val left = (if (p == 0) head else Nil) ++ (0 until 24).map(_ =>
        s"${date(r)} ${Items(r.nextInt(Items.length))}")
      val right = left.indices.map(_ => s"${amount(r)} CR")
      column(72, left) ++ column(360, right)
    } :+ column(72, Seq(s"Closing Balance: ${amount(r)}"))
  }

  private def cardLetter(r: java.util.Random): Seq[Page] = {
    val lines = Seq("Your new credit card", s"Cardholder: ${Firms(r.nextInt(Firms.length))} Holder",
      s"Card Number: ${pan(r, valid = true)}", s"Expiry: ${1 + r.nextInt(12)}/${27 + r.nextInt(5)}",
      s"Previous card ${pan(r, valid = false)} is cancelled",
      s"Credit Limit: ${amount(r)}", s"Statement date: ${date(r)}") ++
      (0 until 10).map(k => s"Term $k: interest accrues daily on the balance outstanding.")
    Seq(column(72, lines))
  }

  def document(seed: Long, j: Int): PageRow = {
    val r = Gen.rng(seed ^ 0x5eed, j)
    val pages = r.nextInt(3) match {
      case 0 => invoice(r)
      case 1 => statement(r)
      case _ => cardLetter(r)
    }
    PageRow(s"https://archive.example/docs/$seed/$j.pdf",
      new java.sql.Timestamp(1700000000000L + j * 1000L), build(pages), "", "en")
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def build(pages: Seq[Page]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val n = pages.size
    // objects: 1 catalog, 2 pages root, 3 font, then (page, content) pairs
    val pageIds = (0 until n).map(k => 4 + 2 * k)
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [${pageIds.map(id => s"$id 0 R").mkString(" ")}] /Count $n >>\nendobj\n")
    w("3 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>\nendobj\n")
    pages.zip(pageIds).foreach { case (runs, id) =>
      val content = new StringBuilder("BT /F1 10 Tf\n")
      runs.foreach { case (x, y, s) =>
        val esc = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        content.append(s"1 0 0 1 $x $y Tm ($esc) Tj\n")
      }
      content.append("ET\n")
      val z = deflate(content.toString.getBytes(ISO_8859_1))
      w(s"$id 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${id + 1} 0 R >>\nendobj\n")
      w(s"${id + 1} 0 obj << /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      w("\nendstream\nendobj\n")
    }
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }
}

/** The curation corpus and its planted truth. */
object Corpus {
  final case class Planted(rows: Seq[Gen.CorpusRow], seenUrls: Seq[String],
      distinctAfterGates: Long, nearDupPairs: Seq[(Long, Long)])

  private val Syllables = Array("ka", "lo", "mi", "ren", "tas", "vo", "shi",
    "dor", "pel", "qua", "zin", "bra", "tek", "mon", "ful", "gri", "sta",
    "wel", "yon", "cor", "nip", "hal", "jus", "ost")
  private val En = Array("the", "and", "of", "is", "that", "with", "for", "this")
  private val Es = Array("el", "la", "los", "que", "de", "por", "para", "una", "con")
  private val De = Array("der", "die", "und", "ist", "nicht", "mit", "eine", "auf")
  private val Markers: Set[String] = Set("el", "la", "los", "las", "que", "de",
    "en", "por", "para", "una", "con", "es", "le", "les", "des", "une", "est",
    "dans", "pour", "qui", "avec", "sur", "pas", "der", "die", "das", "und",
    "ist", "nicht", "mit", "ein", "eine", "für", "auf", "werden", "o", "os",
    "um", "uma", "não", "mais", "como", "foi", "the", "and", "of", "is",
    "that", "with", "for", "this", "are", "was", "not", "you")
  private val Boilerplate = Array(
    "Subscribe to our newsletter for the latest updates and offers delivered to your inbox every week.",
    "This site uses cookies to improve the experience; by continuing you accept the cookie policy.",
    "All rights reserved. Reproduction of this material is not permitted without written permission.",
    "Share this article with your friends and follow us on social media for more stories like this.")

  private def word(r: java.util.Random): String = {
    var w = ""
    while (w.isEmpty || Markers.contains(w))
      w = (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    w
  }

  private def sentence(r: java.util.Random, stop: Array[String], n: Int): String =
    (0 until n).map(k => if (k % 4 == 1) stop(r.nextInt(stop.length)) else word(r))
      .mkString(" ").capitalize + "."

  private def paragraph(r: java.util.Random, stop: Array[String]): String =
    (0 until 3 + r.nextInt(3)).map(_ => sentence(r, stop, 10 + r.nextInt(8))).mkString(" ")

  private def embedding(r: java.util.Random): Array[Float] = {
    val v = Array.fill(32)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  def generate(seed: Long, docs: Int): Planted = {
    val r = Gen.rng(seed, -1L)
    val rows = new Array[Gen.CorpusRow](docs)
    // clean: English and not repetitive, so the gates keep it; a doc
    // reaches exact dedup when it is clean and its url is new
    val clean = new Array[Boolean](docs)
    val reaches = new Array[Boolean](docs)
    val group = new Array[Int](docs)
    val nearGroups = Seq.newBuilder[(Int, Int)]
    val seen = Seq.newBuilder[String]
    var groups = 0
    def url(i: Int) = s"https://site${i % 17}.example/$seed/doc/$i"
    def cleanSource(i: Int): Int =
      Iterator.fill(8)(r.nextInt(i)).find(clean).getOrElse(-1)
    var i = 0
    while (i < docs) {
      val roll = r.nextInt(100)
      val isSeen = r.nextInt(100) < 15
      if (isSeen) seen += url(i)
      val nearSrc = if (roll >= 10 && roll < 20 && i > 0) cleanSource(i) else -1
      if (roll < 10 && i > 0) {
        // exact duplicate of an earlier document (fresh id and url)
        val src = r.nextInt(i)
        rows(i) = rows(src).copy(doc_id = i.toLong, url = url(i))
        group(i) = group(src); clean(i) = clean(src)
      } else if (nearSrc >= 0) {
        // near duplicate: three plain words replaced, embedding perturbed
        val words = rows(nearSrc).text.split(" ")
        val plain = words.indices.filter(k => words(k).forall(_.isLower))
        (0 until 3).foreach(_ => words(plain(r.nextInt(plain.size))) = word(r))
        val e = rows(nearSrc).embedding.map(x => x + (r.nextGaussian() * 0.03).toFloat)
        rows(i) = Gen.CorpusRow(i.toLong, url(i), words.mkString(" "), e)
        group(i) = groups; groups += 1; clean(i) = true
        nearGroups += ((group(nearSrc), group(i)))
      } else {
        val kind = r.nextInt(100)
        val stop = if (kind < 5) Es else if (kind < 10) De else En
        val paras = (0 until 3 + r.nextInt(3)).map(_ => paragraph(r, stop)).toBuffer
        if (kind >= 10 && kind < 14) { // repetitive: one sentence over and over
          val once = sentence(r, En, 12)
          paras(0) = Seq.fill(14)(once).mkString(" ")
        }
        if (r.nextInt(100) < 30) paras += Boilerplate(r.nextInt(Boilerplate.length))
        if (r.nextInt(100) < 20)
          paras.insert(1, s"Contact ${word(r)}.${word(r)}@mail${r.nextInt(90)}.example.com " +
            s"or call +1415555${1000 + r.nextInt(9000)} from host " +
            s"${10 + r.nextInt(200)}.${r.nextInt(256)}.0.${r.nextInt(256)} today.")
        rows(i) = Gen.CorpusRow(i.toLong, url(i), paras.mkString("\n\n"), embedding(r))
        group(i) = groups; groups += 1; clean(i) = kind >= 14
      }
      reaches(i) = clean(i) && !isSeen
      i += 1
    }
    // the previous crawl also holds urls this batch never saw
    (0 until docs * 3).foreach(k => seen += s"https://old${k % 23}.example/$seed/page/$k")
    // exact dedup keeps the smallest doc_id of each text group
    val rep = scala.collection.mutable.HashMap.empty[Int, Long]
    (0 until docs).foreach(k => if (reaches(k) && !rep.contains(group(k))) rep(group(k)) = k.toLong)
    val pairs = nearGroups.result().flatMap { case (g1, g2) =>
      for (a <- rep.get(g1); b <- rep.get(g2)) yield (math.min(a, b), math.max(a, b))
    }.distinct
    Planted(rows.toSeq, seen.result(), rep.size.toLong, pairs)
  }
}
