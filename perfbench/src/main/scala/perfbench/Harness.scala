package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options shared by every workload. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    root: Path,
    out: Path) {
  def data(rel: String): String = root.resolve("perfbench/data").resolve(rel).toString
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val root = java.nio.file.Paths.get(need("root")).toAbsolutePath
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cpus = need("cpus").toInt,
      root = root,
      out = java.nio.file.Paths.get(need("out")).toAbsolutePath)
  }
}

/** Small helpers: sessions, clocks, statistics, heap. */
object Harness {

  def now(): Double = System.nanoTime() / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, now() - t0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Start a fresh local session: one client, `local[cpus]`, all scratch
    * space inside the benchmark's output directory.
    */
  def startSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full collection, in MB. With a live session, the
    * listener bus is drained first: queued events hold task data that the
    * status listeners release once they have processed them.
    */
  def liveHeapMb(s: Option[SparkSession] = None): Double = {
    s.foreach(x => org.apache.spark.PerfbenchBridge.drain(x.sparkContext))
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Force every column of a frame without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Persisted RDDs of the live context: (entries, MB in memory + on disk). */
  def cachedBlocks(s: SparkSession): (Int, Double) = {
    val infos = s.sparkContext.getRDDStorageInfo
    (s.sparkContext.getPersistentRDDs.size,
      infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
  }

  def writeString(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Minimal JSON rendering for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
