package graftbench

import java.io.{BufferedInputStream, File, FileInputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.PageRow
import graft.ops._
import graft.pipeline.{ExtractPipeline, Extractor}
import graft.sources.{Sources, Warc}

/** One benchmark workload: its inputs, the timed operation (read → public
  * API → write of every output column), and the check of what it wrote. */
abstract class Workload(val input: File) {
  val manifest = Json.read(new File(input, "manifest.json").getPath)
  val docs: Long = manifest.get("docs").asLong
  val payloadBytes: Long = manifest.get("payload_bytes").asLong

  /** The timed operation; everything it produces goes under `out`. */
  def runOp(spark: SparkSession, out: File, runId: String): Unit

  /** Untimed preparation of what `check` compares against. */
  def prepare(spark: SparkSession): Unit = ()

  /** Checks the output of one operation: Right(digest) or Left(reason).
    * The digest is order-independent, so runs and commits compare. */
  def check(spark: SparkSession, out: File): Either[String, Long]

  /** Per-layer metrics from the traced run; `ops` are the job groups of
    * the traced timed operations with their wall times (ms). */
  def layers(spark: SparkSession, st: SparkTrace, tr: Tracer, root: Int,
      ops: Seq[(String, Double)], out: File, k: Int, seed: Long): Map[String, Double]

  /** The layer a Spark stage of the timed operation belongs to. */
  def stageLayer(s: StageRec): String = "ops"

  protected def digest(df: DataFrame, cols: String*): Long =
    df.select(xxhash64(cols.map(col): _*)).collect().iterator.map(_.getLong(0)).sum
}

object Workload {
  def apply(name: String, input: File): Workload = name match {
    case "crawl_warc" => new CrawlWarc(input)
    case "pdf_docs" => new PdfDocs(input)
    case "curate_dedup" => new CurateDedup(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Shared by the two extraction workloads: ExtractPipeline.run to parquet
  * with lineage, checked against direct Extractor.extract calls. */
abstract class Extraction(input: File) extends Workload(input) {
  def pages(spark: SparkSession): Dataset[PageRow]
  def narrow: Boolean
  /** Rows for the kernel replay (a seeded sample of the input). */
  def replayRows(spark: SparkSession, seed: Long, tr: Tracer, root: Int): (Seq[PageRow], Map[String, Double])

  private var expected: Map[String, (String, String)] = Map.empty
  private def sampled(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(64L)) === 0L

  def runOp(spark: SparkSession, out: File, runId: String): Unit = {
    val k = spark.sparkContext.defaultParallelism
    ExtractPipeline.run(spark, pages(spark), new File(out, "results").getPath,
      new File(out, "lineage").getPath, runId, buckets = 4 * k, narrowOutput = narrow)
  }

  override def prepare(spark: SparkSession): Unit = {
    expected = pages(spark).filter(sampled(col("url"))).collect().map { r =>
      val e = Extractor.extract(r)
      r.url -> (e.text, e.status)
    }.toMap
  }

  def check(spark: SparkSession, out: File): Either[String, Long] = {
    val res = spark.read.parquet(new File(out, "results").getPath)
    val rows = res.count()
    val docsIn = spark.read.parquet(new File(out, "lineage").getPath)
      .agg(sum(col("docs_in"))).collect()(0).getLong(0)
    val got = res.filter(sampled(col("url"))).select("url", "text", "status").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    if (rows != docs) Left(s"output rows $rows != input rows $docs")
    else if (docsIn != docs) Left(s"lineage docs_in $docsIn != input rows $docs")
    else if (got != expected) {
      val bad = (got.keySet ++ expected.keySet).count(u => got.get(u) != expected.get(u))
      Left(s"$bad of ${expected.size} sampled urls differ from Extractor.extract")
    } else Right(digest(res, "url", "text"))
  }

  // the scan stage reads and decodes the input and shuffles it to the
  // url buckets; every later stage is the pipeline's
  private def isScan(s: StageRec) = s.shuffleWriteBytes > 0 && s.shuffleReadBytes == 0
  override def stageLayer(s: StageRec): String = if (isScan(s)) "sources" else "pipeline"

  def layers(spark: SparkSession, st: SparkTrace, tr: Tracer, root: Int,
      ops: Seq[(String, Double)], out: File, k: Int, seed: Long): Map[String, Double] = {
    def isExtract(s: StageRec) = s.shuffleReadBytes > 0 && s.outputBytes > 0
    val per = ops.map { case (g, wallMs) =>
      val stages = st.stagesOf(g)
      val scan = stages.filter(isScan)
      val ext = stages.filter(isExtract)
      val scanTasks = st.tasksOf(g).filter(t => scan.exists(_.stageId == t.stageId))
      val extTasks = st.tasksOf(g).filter(t => ext.exists(_.stageId == t.stageId))
      val extJobEnd = st.jobsOf(g).filter(j => j.stages.exists(id => ext.exists(_.stageId == id)))
        .map(_.endMs).maxOption
      val opEndMs = st.jobsOf(g).map(_.endMs).maxOption
      Map(
        "sources.scan_stage_busy_s" -> scan.map(_.runMs).sum / 1000.0,
        "sources.scan_task_skew" -> Stats.skew(scanTasks.map(_.durMs.toDouble)),
        "pipeline.extract_stage_busy_s" -> ext.map(_.runMs).sum / 1000.0,
        "pipeline.core_util" -> stages.map(_.runMs).sum / (wallMs * k),
        "pipeline.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6,
        "pipeline.shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / 1e6,
        "pipeline.spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
        "pipeline.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "pipeline.bucket_records_skew" -> Stats.skew(extTasks.map(_.records.toDouble)),
        "pipeline.commit_ms" -> (for (a <- extJobEnd; b <- opEndMs) yield (b - a).toDouble).getOrElse(0.0),
        "pipeline.jobs" -> st.jobsOf(g).size.toDouble)
    }
    val medians = per.headOption.map(_.keys).getOrElse(Nil)
      .map(key => key -> Stats.median(per.map(_(key)))).toMap
    val tasks = ops.flatMap { case (g, _) => st.tasksOf(g) }
    val taskMs = tasks.map(_.durMs.toDouble)
    val (sinkBytes, sinkFiles) = Proc.dirStats(new File(out, "results"))

    val replaySpan = tr.add(root, "kernel-replay", "pipeline", tr.nowUs, 0L)
    val (rows, sourceMetrics) = replayRows(spark, seed, tr, replaySpan)
    val warm = new Replay(new Tracer); warm.run(rows, -1) // JIT warm-up, discarded
    val replay = new Replay(tr)
    val t0 = tr.nowUs
    val rs = tr.add(replaySpan, "replay", "pipeline", t0, 0L)
    replay.run(rows, rs)
    tr.close(rs); tr.close(replaySpan)
    val kernel = replay.metrics(rs)
    val extStageMs = Stats.median(per.map(_("pipeline.extract_stage_busy_s"))) * 1000.0
    medians ++ sourceMetrics ++ kernel ++ Map(
      "pipeline.task_p50_ms" -> Stats.quantile(taskMs, 0.5),
      "pipeline.task_p99_ms" -> Stats.quantile(taskMs, 0.99),
      "pipeline.tasks" -> taskMs.size.toDouble,
      "pipeline.task_failures" -> tasks.count(!_.ok).toDouble,
      "pipeline.kernel_eff" ->
        (if (extStageMs <= 0) 0.0 else kernel("pipeline.extract_us_per_doc") * docs / 1000.0 / extStageMs),
      "pipeline.sink_mb" -> sinkBytes / 1e6,
      "pipeline.sink_files" -> sinkFiles.toDouble)
  }

  /** Seeded ~1-in-`stride` sample that still gives about `target` rows. */
  protected def keep(url: String, seed: Long, target: Int): Boolean = {
    val stride = math.max(1L, docs / target)
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(url, seed.toInt).toLong, stride) == 0
  }
}

final class CrawlWarc(input: File) extends Extraction(input) {
  private def glob = new File(input, "*.warc.gz").getPath
  def pages(spark: SparkSession): Dataset[PageRow] = Warc.warcFiles(spark, glob)
  def narrow = false

  /** Replays `Warc.records` over every file (the decode layer) and keeps
    * the seeded sample of response rows for the kernel replay. */
  def replayRows(spark: SparkSession, seed: Long, tr: Tracer, root: Int)
      : (Seq[PageRow], Map[String, Double]) = {
    val files = Option(input.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    val rows = mutable.ArrayBuffer.empty[PageRow]
    var records = 0L; var responses = 0L
    val decodeUs = files.map { f =>
      val t0 = tr.nowUs
      val in = new BufferedInputStream(new FileInputStream(f), 1 << 16)
      try Warc.records(in).foreach { r =>
        records += 1
        if (r.warc_type == "response" && r.url.nonEmpty) {
          responses += 1
          if (keep(r.url, seed, 1500)) rows += PageRow(r.url, r.warc_ts, r.payload, "", "")
        }
      } finally in.close()
      val t1 = tr.nowUs
      tr.add(root, f.getName, "sources", t0, t1)
      t1 - t0
    }.sum
    val corrupt = Warc.warcFileSummaries(spark, glob)
      .agg(sum(col("corrupt_members"))).collect()(0).getLong(0)
    (rows.toSeq, Map(
      "sources.warc_decode_us_per_doc" -> decodeUs.toDouble / math.max(responses, 1L),
      "sources.warc_records" -> records.toDouble,
      "sources.warc_corrupt_units" -> corrupt.toDouble))
  }
}

final class PdfDocs(input: File) extends Extraction(input) {
  def pages(spark: SparkSession): Dataset[PageRow] =
    Sources.pagesTable(spark, new File(input, "pages").getPath)
  def narrow = true

  def replayRows(spark: SparkSession, seed: Long, tr: Tracer, root: Int)
      : (Seq[PageRow], Map[String, Double]) =
    (pages(spark).collect().filter(r => keep(r.url, seed, 1500)).toSeq, Map.empty)
}

/** Training-data curation: the ops chain over a seeded corpus, ending in
  * a parquet write of the exact-dedup survivors (with their near-dup
  * verdicts and paragraph-deduplicated text) and of the near-dup pairs. */
final class CurateDedup(input: File) extends Workload(input) {
  private val distinct = manifest.get("distinct_after_gates").asLong
  private val planted: Set[(Long, Long)] = manifest.get("near_dup_pairs").elements().asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet

  private def corpus(spark: SparkSession) = spark.read.parquet(new File(input, "corpus").getPath)
  private def seen(spark: SparkSession) = spark.read.parquet(new File(input, "seen").getPath)

  // the chain, one function per step so the traced run can materialize
  // each step in turn
  def fresh(c: DataFrame, s: DataFrame): DataFrame = IncrementalDedup.newUrls(c, s)
  def gates(d: DataFrame): DataFrame =
    TextAnalysis.withLanguageId(d)
      .withColumn("rep", Repetition.signalsStruct(col("text")))
      .filter(col("lang_pred") === "en" && col("rep._2") < 300000L)
      .drop("lang_pred", "rep")
  def scrub(d: DataFrame): DataFrame = PiiScrub(d, "text")
  def exact(d: DataFrame): DataFrame = Dedup.exactSurvivors(d)
  def minhash(e: DataFrame): DataFrame =
    Dedup.minhashNearDups(e, threshold = 0.8, exactPrepass = false)
  /** (id, component, keep_id) for every document in a near-dup cluster. */
  def clusters(e: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = DupClusters.connectedComponents(pairs.select("a", "b"))
    val quality = e.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("quality"))
    labels.join(DupClusters.electCanonical(quality, labels).select("component", "keep_id"), "component")
  }
  def cosine(e: DataFrame): DataFrame =
    Similarity.cosineNearDups(e.select(col("doc_id").as("vec_id"), col("embedding")), threshold = 0.95)
  def paragraphs(e: DataFrame): DataFrame =
    ParagraphDedup.dedup(e.select("doc_id", "text"), "doc_id", "text")
  def survivors(e: DataFrame, cl: DataFrame, cos: DataFrame, para: DataFrame): DataFrame = {
    val cosDup = cos.select(col("b").as("doc_id")).distinct().withColumn("cos_dup", lit(true))
    e.select("doc_id", "url").join(para, "doc_id")
      .join(cl.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(cosDup, Seq("doc_id"), "left")
      .withColumn("keep", (col("component").isNull || col("doc_id") === col("keep_id")) &&
        col("cos_dup").isNull)
      .select("doc_id", "url", "text", "paras_total", "paras_kept", "component", "keep")
  }
  def pairs(mh: DataFrame, cos: DataFrame): DataFrame =
    mh.select(col("a"), col("b"), lit("minhash").as("kind"), col("jaccard").as("score"))
      .union(cos.select(col("a"), col("b"), lit("cosine").as("kind"), col("cos").as("score")))

  def runOp(spark: SparkSession, out: File, runId: String): Unit = {
    val e = exact(scrub(gates(fresh(corpus(spark), seen(spark)))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mh = minhash(e).persist(StorageLevel.MEMORY_AND_DISK)
    val cos = cosine(e).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      survivors(e, clusters(e, mh), cos, paragraphs(e))
        .write.mode("overwrite").parquet(new File(out, "docs").getPath)
      pairs(mh, cos).write.mode("overwrite").parquet(new File(out, "pairs").getPath)
    } finally Seq(cos, mh, e).foreach(_.unpersist(blocking = true))
  }

  /** Planted-pair recall per pair kind, over (min, max) id pairs. */
  private def recall(found: Seq[(Long, Long, String)], kind: String): Double =
    if (planted.isEmpty) 1.0
    else {
      val f = found.filter(_._3 == kind).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      planted.count(f.contains).toDouble / planted.size
    }

  def check(spark: SparkSession, out: File): Either[String, Long] = {
    val d = spark.read.parquet(new File(out, "docs").getPath)
    val p = spark.read.parquet(new File(out, "pairs").getPath)
    val rows = d.count()
    val found = p.select("a", "b", "kind").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val (mh, cs) = (recall(found, "minhash"), recall(found, "cosine"))
    if (rows != distinct) Left(s"exact-dedup survivors $rows != planted distinct $distinct")
    else if (mh < 0.9) Left(f"minhash near-dup recall $mh%.3f < 0.9 over ${planted.size} planted pairs")
    else if (cs < 0.9) Left(f"cosine near-dup recall $cs%.3f < 0.9 over ${planted.size} planted pairs")
    else Right(digest(d, "doc_id", "text", "component", "keep") + digest(p, "a", "b", "kind"))
  }

  /** Per-op attribution: each step runs under its own job group and is
    * written to parquet, and the next step reads it back. This changes
    * the plan (no fusion across steps), so it only feeds per-layer
    * numbers, never the end-to-end ones. */
  def layers(spark: SparkSession, st: SparkTrace, tr: Tracer, root: Int,
      ops: Seq[(String, Double)], out: File, k: Int, seed: Long): Map[String, Double] = {
    val stageDir = new File(out, "steps")
    val attr = tr.add(root, "per-op-attribution", "ops", tr.nowUs, 0L)
    val m = mutable.LinkedHashMap.empty[String, Double]
    // runs one step's writes under its own job group; returns them read back
    def step(name: String)(outs: => Seq[DataFrame]): Seq[DataFrame] = {
      val g = s"step-$name"
      spark.sparkContext.setJobGroup(g, name)
      val t0 = tr.nowUs
      val paths = try outs.zipWithIndex.map { case (df, i) =>
        val path = new File(stageDir, s"$name-$i").getPath
        df.write.mode("overwrite").parquet(path)
        path
      } finally spark.sparkContext.clearJobGroup()
      val t1 = tr.nowUs
      st.drain(spark)
      st.addSpans(tr, tr.add(attr, name, "ops", t0, t1), g, _ => "ops")
      val stages = st.stagesOf(g)
      m(s"ops.$name.wall_s") = (t1 - t0) / 1e6
      m(s"ops.$name.busy_s") = stages.map(_.runMs).sum / 1000.0
      m(s"ops.$name.rows_out") = stages.map(_.outputRecords).sum.toDouble
      m(s"ops.$name.shuffle_mb") = stages.map(_.shuffleWriteBytes).sum / 1e6
      m(s"ops.$name.jobs") = st.jobsOf(g).size.toDouble
      paths.map(spark.read.parquet(_))
    }
    def one(name: String)(df: => DataFrame): DataFrame = step(name)(Seq(df)).head
    val f = one("incremental_dedup")(fresh(corpus(spark), seen(spark)))
    val gt = one("gates")(gates(f))
    val sc = one("pii_scrub")(scrub(gt))
    val e = one("exact_dedup")(exact(sc))
    one("minhash_candidates")(Dedup.minhashCandidates(e))
    val mh = one("minhash")(minhash(e))
    val cl = one("dup_clusters")(clusters(e, mh))
    val cos = one("cosine_neardups")(cosine(e))
    val para = one("paragraph_dedup")(paragraphs(e))
    val sinkPairs = step("sink")(Seq(survivors(e, cl, cos, para), pairs(mh, cos)))(1)
    tr.close(attr)
    val candidates = m("ops.minhash_candidates.rows_out")
    m("ops.minhash.candidate_pairs") = candidates
    m("ops.minhash.verified_frac") = if (candidates == 0) 0.0 else m("ops.minhash.rows_out") / candidates

    val timed = ops.map { case (g, _) => st.stagesOf(g) }
    m("ops.near_dup_recall") = recall(sinkPairs.select("a", "b", "kind").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq, "minhash")
    m("ops.spill_mb") = Stats.median(timed.map(_.map(_.spillBytes).sum / 1e6))
    m("ops.gc_s") = Stats.median(timed.map(_.map(_.gcMs).sum / 1000.0))
    val keepKeys = Metrics.perLayer.map(_._1).toSet
    m.filter { case (key, _) => keepKeys.contains(key) }.toMap
  }
}
