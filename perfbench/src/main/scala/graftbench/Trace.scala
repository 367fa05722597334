package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds on the wall clock, so
  * spans recorded in the benchmark and spans reported by Spark's
  * listener share one time base. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def add(parent: Int, name: String, layer: String, startUs: Long, endUs: Long,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, layer, startUs, endUs, attrs)
    id
  }

  /** Times `f` as a span; the span id is passed in so children can
    * name it as their parent. */
  def span[T](parent: Int, name: String, layer: String)(f: Int => T): T = {
    val id = add(parent, name, layer, nowUs, 0L)
    try f(id) finally close(id)
  }

  /** Ends a span opened with `add(..., endUs = 0)`. */
  def close(id: Int): Unit = synchronized { spans(id) = spans(id).copy(endUs = nowUs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span: its duration minus the part of its interval
    * that its children cover (overlapping children counted once). */
  def selfUs: Map[Int, Long] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> math.max(0L, s.durUs - covered)
    }.toMap
  }

  /** Self time summed per layer, µs. */
  def selfByLayer: Map[String, Long] = {
    val self = selfUs
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def toJson: String = {
    val self = selfUs
    all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self(s.id), "attrs" -> s.attrs)
    }.mkString("[", ",\n", "]")
  }
}

/** What the listener saw of one stage. */
final case class StageRec(stageId: Int, jobGroup: String, name: String,
    submitMs: Long, doneMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long, outputRecords: Long)

final case class TaskRec(stageId: Int, jobGroup: String, durMs: Long,
    records: Long, ok: Boolean)

final case class JobRec(jobId: Int, jobGroup: String, startMs: Long,
    endMs: Long, stages: Seq[Int], ok: Boolean)

/** Spark-side tracing: per job, stage and task, keyed by the job group
  * the benchmark sets around each operation. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val queries = mutable.ArrayBuffer.empty[(String, String, Long)]
  private val jobGroupOfStage = mutable.HashMap.empty[Int, String]
  private val openJobs = mutable.HashMap.empty[Int, (String, Long, Seq[Int])]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageIds.foreach(jobGroupOfStage(_) = g)
    openJobs(e.jobId) = (g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, t0, st) =>
      jobs += JobRec(e.jobId, g, t0, e.time, st, e.jobResult == JobSucceeded)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(i.stageId, jobGroupOfStage.getOrElse(i.stageId, ""), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val rec = if (m == null) 0L else m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
    tasks += TaskRec(e.stageId, jobGroupOfStage.getOrElse(e.stageId, ""),
      e.taskInfo.duration, rec, e.taskInfo.successful)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { queries += ((funcName, "ok", durationNs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { queries += ((funcName, "failed", 0L)) }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until every event of finished actions has arrived. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  def stagesOf(g: String): Seq[StageRec] = synchronized(stages.filter(_.jobGroup == g).toList)
  def jobsOf(g: String): Seq[JobRec] = synchronized(jobs.filter(_.jobGroup == g).toList)
  def tasksOf(g: String): Seq[TaskRec] = synchronized(tasks.filter(_.jobGroup == g).toList)

  /** Adds job and stage spans under `parent`, mapping stages to layers. */
  def addSpans(t: Tracer, parent: Int, g: String, layerOf: StageRec => String): Unit = {
    val st = stagesOf(g)
    jobsOf(g).foreach { j =>
      val jid = t.add(parent, s"job-${j.jobId}", "spark", j.startMs * 1000L, j.endMs * 1000L,
        Map("ok" -> j.ok))
      st.filter(s => j.stages.contains(s.stageId)).foreach { s =>
        t.add(jid, s"stage-${s.stageId}", layerOf(s), s.submitMs * 1000L, s.doneMs * 1000L,
          Map("tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
            "gc_ms" -> s.gcMs, "shuffle_read_bytes" -> s.shuffleReadBytes,
            "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
            "output_bytes" -> s.outputBytes, "output_records" -> s.outputRecords,
            "name" -> s.name))
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** max ÷ mean, the straggler factor of a set of parallel parts. */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.sum == 0) 0.0 else xs.max / (xs.sum / xs.size)
}
