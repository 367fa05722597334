package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** `--key value` argument pairs. */
object Args {
  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
  }
}

/** Just enough JSON output for results, manifests and traces. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded as-is. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
}

/** The one local SparkSession shape every run uses. Scratch (spark local
  * dirs, warehouse) lives under `GRAFT_BENCH_SCRATCH`, set by run.py to a
  * directory inside the checkout's bench work area. */
object Session {
  def scratch: String = sys.env.getOrElse("GRAFT_BENCH_SCRATCH",
    sys.error("GRAFT_BENCH_SCRATCH is not set; run through perfbench/run.py"))

  def start(k: Int, name: String): SparkSession = {
    val local = new File(scratch, "spark-local"); local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName(name)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", k.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Process-level resource readings. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this process (tasks, GC, JIT), ns. */
  def cpuNanos: Long = os.getProcessCpuTime

  /** `VmHWM` from /proc/self/status: the resident high-water mark, MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def jvmStartMillis: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes and data files (non-hidden, non-marker) under `dir`. */
  def dirStats(dir: File): (Long, Int) = {
    var bytes = 0L; var files = 0
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        bytes += f.length(); files += 1
      }
    walk(dir)
    (bytes, files)
  }
}
