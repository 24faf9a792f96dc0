package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

object Stats {
  /** Repetitions of a read-side measurement within one sample. */
  val serveReps = 3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
}

/** What one benchmark run reports: metrics by name with their unit,
  * operation counts, the reasons of failed operations, and run facts. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(key: String, value: Any): Unit = info(key) = Json.value(value)

  /** Count one operation; `error` is why it failed, if it did. */
  def outcome(what: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e => failed += 1; failures += s"$what: $e" }
  }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val is = info.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "failures": ${Json.value(failures.toSeq)}, "metrics": $ms, "info": $is}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** One workload of the benchmark: set-up, then the timed window. */
trait Workload {
  /** `sessionS`: process start to a ready Spark session, part of set-up. */
  def run(sessionS: Double): Unit
}

/** Command line of the benchmark JVM (one workload run per JVM):
  * `--workload <w> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  *  --data <dir> --out <file> --started <epoch ms> [--await <file>] [--smoke]`.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    root: Path, data: Path, out: Path, startedMs: Long, smoke: Boolean, await: Option[Path])

object Main {

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")), Paths.get(need("data")),
      Paths.get(need("out")), kv.get("started").map(_.toLong).getOrElse(System.currentTimeMillis()),
      args.contains("--smoke"), kv.get("await").map(Paths.get(_)))
  }

  /** `graft.Bench`'s session conf at `local[nproc]`, with every scratch
    * path Spark writes under the run's root. */
  def session(root: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(o.root, cpus)
    val sessionReadyS = (System.currentTimeMillis() - o.startedMs) / 1e3
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val r = new Result
    r.note("workload", o.workload)
    r.note("seed", o.seed)
    r.note("smoke", o.smoke)
    r.note("nproc", cpus)
    r.note("jvm", s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}")
    r.note("heap_max_mb", Runtime.getRuntime.maxMemory() / (1L << 20))
    r.note("spark", spark.version)
    r.note("jvm_and_session_s", sessionReadyS)
    val ok = try {
      val w: Workload = o.workload match {
        case "etl_incremental" => new Etl(spark, o, r, tracer)
        case "store_loops" => new Ops(spark, o, r, tracer, Ops.storeLoops)
        case "corpus_batch" => new Ops(spark, o, r, tracer, Ops.corpusBatch)
        case other => sys.error(s"unknown workload $other")
      }
      w.run(sessionReadyS)
      r.put("rss_peak_mb", Proc.peakRssMb(), "MB")
      Files.write(o.out, (r.toJson + "\n").getBytes("UTF-8"))
      true
    } catch {
      case e: Throwable => e.printStackTrace(); false
    } finally spark.stop()
    // Spark and the loops' futures may leave non-daemon threads behind
    sys.exit(if (ok) 0 else 1)
  }
}

/** The process's own resident-memory high-water mark. */
object Proc {
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
