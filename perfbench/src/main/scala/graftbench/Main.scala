package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (session start plus a first
  * pass, repeated), then timed operations back to back for the requested
  * seconds — a closed loop, one job at a time. With tracing on, half the
  * time runs untraced and half with the listeners registered (the
  * difference is the tracing overhead), followed by the per-layer
  * attribution. Writes one result JSON; run.py prints it. */
object Main {
  val SetupReps = 3

  final case class Op(wallS: Double, cpuS: Double, group: String)

  def main(args: Array[String]): Unit = {
    val a = Args.parse(args)
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val input = new File(a("input")); val out = new File(a("out"))
    val k = a("k").toInt
    val expect = a.get("expect-digest").map(_.toLong)
    // generated on a cache miss only; excluded from set-up and timing
    val genS =
      if (new File(input, "manifest.json").exists()) 0.0
      else Gen.generate(name, seed, a("docs").toInt, a("files").toInt, input, k)
    val w = Workload(name, input)

    var attempted = 0; var failed = 0
    val reasons = mutable.ArrayBuffer.empty[String]

    def wipe(): Unit = { Proc.deleteTree(out); out.mkdirs() }

    // ---- set-up: the first repetition is timed from process start
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      wipe()
      spark = Session.start(k, "graftbench")
      w.runOp(spark, out, s"setup$rep")
      setup += (if (rep == 0) (System.currentTimeMillis() - Proc.jvmStartMillis) / 1e3 - genS
                else (System.nanoTime() - t0) / 1e9)
    }
    w.prepare(spark)
    val checked = w.check(spark, out)
    // one more untimed pass: the first operations of a fresh session run
    // ~25% slower than later ones, which would skew a run's median
    wipe()
    w.runOp(spark, out, "warmup")
    val ref: Long = checked match {
      case Right(d) => expect.getOrElse(d)
      case Left(why) =>
        // without a correct first pass there is nothing to compare against
        writeResult(a("result"), correct = false, 1, 1, Map.empty,
          Map("failures" -> Seq(s"set-up pass: $why")))
        sys.exit(1)
    }

    def loop(secs: Double, phase: String): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      var i = 0
      do {
        wipe()
        System.gc()
        val g = s"$phase-$i"
        attempted += 1
        spark.sparkContext.setJobGroup(g, g)
        val c0 = Proc.cpuNanos; val t0 = System.nanoTime()
        val outcome: Either[String, Long] =
          try {
            w.runOp(spark, out, g)
            Right(0L)
          } catch { case NonFatal(e) => Left(s"$g threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
          finally spark.sparkContext.clearJobGroup()
        val t1 = System.nanoTime(); val c1 = Proc.cpuNanos
        val checked = outcome.flatMap { _ =>
          try w.check(spark, out) catch { case NonFatal(e) => Left(s"$g check threw ${e.getMessage}") }
        }
        checked match {
          case Right(d) if d == ref => ops += Op((t1 - t0) / 1e9, (c1 - c0) / 1e9, g)
          case Right(d) => failed += 1; reasons += s"$g output digest $d != expected $ref"
          case Left(why) => failed += 1; reasons += why
        }
        i += 1
      } while (System.nanoTime() < deadline)
      ops.toSeq
    }

    def docsPerS(ops: Seq[Op]) = Stats.median(ops.map(w.docs / _.wallS))

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors, "k" -> k,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "docs" -> w.docs, "payload_bytes" -> w.payloadBytes,
      "reference_digest" -> ref.toString, "generation_s" -> genS)

    if (!traced) {
      val ops = loop(seconds, "op")
      val metrics = Map(
        "docs_per_s" -> docsPerS(ops),
        "input_mb_per_s" -> Stats.median(ops.map(w.payloadBytes / 1e6 / _.wallS)),
        "cpu_ms_per_doc" -> Stats.median(ops.map(_.cpuS * 1e3 / w.docs)),
        "setup_s" -> Stats.median(setup.toSeq),
        "peak_rss_mb" -> Proc.peakRssMb)
      spark.stop()
      val walls = ops.map(_.wallS)
      writeResult(a("result"), failed == 0, attempted, failed,
        Metrics.endToEnd.map { case (n, u) => n -> (metrics(n), u) }.toMap,
        env ++ Map(
          "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
          "timed_ops" -> ops.size,
          "op_wall_s" -> Map("p25" -> Stats.quantile(walls, 0.25), "p50" -> Stats.quantile(walls, 0.5),
            "p75" -> Stats.quantile(walls, 0.75), "max" -> walls.maxOption.getOrElse(Double.NaN),
            "n" -> walls.size),
          "op_walls_s" -> walls,
          "setup_samples_s" -> setup.toSeq,
          "failures" -> reasons.toSeq))
      sys.exit(if (failed == 0 && ops.nonEmpty) 0 else 1)
    }

    // ---- traced run
    val untraced = loop(seconds / 2, "untraced")
    val st = new SparkTrace
    st.register(spark)
    val tr = new Tracer
    val root = tr.add(-1, s"workload:$name", "workload", tr.nowUs, 0L)
    val tracedOps = loop(seconds / 2, "traced")
    st.drain(spark)
    tracedOps.foreach { op =>
      val ends = st.jobsOf(op.group)
      val start = ends.map(_.startMs).minOption.getOrElse(0L) * 1000L
      val id = tr.add(root, op.group, "op", start, start + (op.wallS * 1e6).toLong,
        Map("wall_s" -> op.wallS, "cpu_s" -> op.cpuS))
      st.addSpans(tr, id, op.group, w.stageLayer)
    }
    val layerMetrics =
      try w.layers(spark, st, tr, root, tracedOps.map(o => (o.group, o.wallS * 1e3)), out, k, seed)
      catch { case NonFatal(e) =>
        failed += 1; attempted += 1
        reasons += s"per-layer attribution threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        Map.empty[String, Double]
      }
    tr.close(root)
    st.unregister(spark)
    spark.stop()
    val (dU, dT) = (docsPerS(untraced), docsPerS(tracedOps))
    val all = Metrics.perLayer.map(_._1 -> 0.0).toMap ++ layerMetrics ++ Map(
      "trace.docs_per_s_untraced" -> dU, "trace.docs_per_s_traced" -> dT,
      "trace.overhead_frac" -> (1.0 - dT / dU))
    val selfByLayer = tr.selfByLayer
    Files.write(Paths.get(a("trace-out")), Json.obj(
      "workload" -> name, "seed" -> seed, "env" -> env,
      "metrics" -> all,
      "samples" -> Map("untraced_ops" -> untraced.size, "traced_ops" -> tracedOps.size,
        "tasks" -> all("pipeline.tasks"), "replay_docs" -> all("pipeline.replay_docs")),
      "self_us_by_layer" -> selfByLayer,
      "queries" -> st.queries.map { case (f, s, ns) => Map("func" -> f, "status" -> s, "ms" -> ns / 1e6) },
      "spans" -> Json.Raw(tr.toJson)).getBytes(UTF_8))
    writeResult(a("result"), failed == 0, attempted, failed,
      Metrics.perLayer.map { case (n, u) => n -> (all(n), u) }.toMap,
      env ++ Map("self_us_by_layer" -> selfByLayer, "failures" -> reasons.toSeq,
        "untraced_ops" -> untraced.size, "traced_ops" -> tracedOps.size,
        "trace_file" -> a("trace-out")))
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def writeResult(path: String, correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, (Double, String)], report: Map[String, Any]): Unit = {
    val m = metrics.toSeq.sortBy(_._1).map { case (n, (v, u)) =>
      n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
    }
    Files.write(Paths.get(path), Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(m: _*)),
      "report" -> report).getBytes(UTF_8))
  }
}
