package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --mode psn --titles N --jit J --warm W --days D ...
  *   perfbench.Main --mode mix --data DIR --passes P ...
  *
  * with `--seed`, `--trace 0|1`, `--cores`, `--dir` (the run's private
  * directory) and `--launch-ms` (when the process was launched, for
  * `setup_s`). Writes `<dir>/result.json`; `run.py` adds the oracle check
  * and prints the final line. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val dir = Paths.get(a("dir"))
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    // Measurement honesty: the run's warehouse, index root, Spark local
    // and tmp dirs are private to it and empty at start, so nothing built by
    // an earlier run is ever timed.
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    require(tmp.startsWith(dir) && isEmpty(tmp), s"tmpdir $tmp not fresh")
    // the session settings graft.Bench uses, with every path private
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.graft.indexDir", freshDir(dir.resolve("index")).toString)
      .config("spark.local.dir", freshDir(dir.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val launchMs = a("launch-ms").toLong
    log(launchMs, "session ready")
    val out = a("mode") match {
      case "psn" => Pipeline.run(spark, seed, Pipeline.Size(a("titles").toInt,
        a("jit").toInt, a("warm").toInt, a("days").toInt), traced, dir, launchMs)
      case "mix" => Mix.run(spark, seed, Paths.get(a("data")),
        a("passes").toInt, traced, dir, launchMs)
    }
    out.metric("peak_rss_mb", peakRssMb, "MB")
    Files.writeString(dir.resolve("result.json"), out.json)
    spark.stop()
  }

  def log(launchMs: Long, what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1e3}%.2f s: $what")

  def isEmpty(p: Path): Boolean = {
    val s = Files.list(p)
    try !s.iterator.hasNext finally s.close()
  }

  /** Creates `p`, which must not exist yet or be an empty directory. */
  def freshDir(p: Path): Path = {
    Files.createDirectories(p)
    require(isEmpty(p), s"$p is not empty at start")
    p
  }

  /** Every regular file under `root` with its size. */
  def files(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap

  def dirBytes(root: Path): Double = files(root).values.sum.toDouble

  /** Bytes of the files under `root` that are new or changed since `before`. */
  def newBytes(root: Path, before: Map[Path, Long]): Double =
    files(root).collect { case (p, n) if !before.get(p).contains(n) => n }.sum.toDouble

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Files and kept versions on disk under the store roots at the end. */
  def storeShape(out: Outcome, roots: Seq[Path]): Unit = {
    val all = roots.filter(Files.exists(_))
      .flatMap(r => Files.walk(r).iterator.asScala.toSeq)
    out.metric("store.files", all.count(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toDouble, "count")
    out.metric("store.versions_kept", all.count(p => Files.isDirectory(p) &&
      p.getFileName.toString.matches("v\\d+")).toDouble, "count")
  }
}

/** What one run measured: operation samples by kind, per-op counters,
  * named metrics, attempts and failures. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  private var setupS = Double.NaN
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val counts = mutable.LinkedHashMap[String, (String, mutable.ArrayBuffer[Double])]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val info = mutable.LinkedHashMap[String, String]()

  def firstTimedOp(launchMs: Long): Unit =
    if (setupS.isNaN) setupS = (System.currentTimeMillis() - launchMs) / 1e3

  def sample(kind: String, s: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += s
  def samplesOf(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq
  /** A per-operation counter; reported as its mean. */
  def count(name: String, v: Double, unit: String): Unit =
    counts.getOrElseUpdate(name, (unit, mutable.ArrayBuffer()))._2 += v
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def note(k: String, v: String): Unit = info(k) = v

  /** Runs one operation; a throw is a failure (or, outside the timed
    * operations, makes the run incorrect). */
  def attempt[T](timed: Boolean)(body: => T): Option[T] = {
    if (timed) attempted += 1
    try Some(body)
    catch { case e: Exception =>
      System.err.println(s"[perfbench] operation failed: $e")
      fail(timed)
      None
    }
  }

  def expect[T](timed: Boolean, got: Option[T], want: T, what: String): Unit =
    got.filter(_ != want).foreach { g =>
      System.err.println(s"[perfbench] $what returned $g, expected $want")
      fail(timed)
    }

  def fail(timed: Boolean): Unit = if (timed) failed += 1 else correct = false

  def check(what: String, ok: Boolean): Unit = if (!ok) {
    System.err.println(s"[perfbench] check failed: $what")
    correct = false
  }

  /** The end-to-end figures over operation kinds (days, or queries):
    * median and tail of all operations; per-kind medians summed and
    * geometric-meaned; and per-kind growth, geometric-meaned. */
  def summarize(kinds: Seq[String]): Unit = {
    val all = kinds.flatMap(samplesOf)
    System.err.println("[perfbench] samples: " + kinds.map(k =>
      k + "=" + samplesOf(k).map(x => f"$x%.3f").mkString(",")).mkString(" "))
    val (tail, p, n) = Stats.tail(all)
    metric("setup_s", setupS, "s")
    metric("op_p50_s", Stats.median(all), "s")
    metric("op_tail_s", tail, "s")
    note("op_tail_percentile", f"$p%.1f")
    note("op_samples", n.toString)
    val meds = kinds.map(k => Stats.median(samplesOf(k)))
    if (kinds.size > 1) kinds.zip(meds).foreach { case (k, m) => note(s"median_s.$k", f"$m%.4f") }
    metric("pass_s", meds.sum, "s")
    metric("pass_geomean_s", math.exp(meds.map(math.log).sum / meds.size), "s")
    metric("growth", math.exp(kinds.map(k => math.log(Stats.growth(samplesOf(k))))
      .sum / kinds.size), "ratio")
    counts.foreach { case (k, (u, v)) => metric(k, v.sum / v.size, u) }
  }

  /** Traced minus untraced median of the same operations, in one JVM. */
  def traceOverhead(untraced: String, traced: String): Unit = {
    val a = Stats.median(samplesOf(untraced))
    val b = Stats.median(samplesOf(traced))
    metric("trace.overhead_s", b - a, "s")
    metric("trace.overhead_ratio", (b - a) / a, "ratio")
  }

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val i = info.map { case (k, v) => s"${str(k)}: ${str(v)}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}, "info": {${i.mkString(", ")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of the last half of `xs` (in run order) over the median of
    * the first half. Thirds, with six large-library days, left two samples
    * a side and doubled the run-to-run spread. */
  def growth(xs: Seq[Double]): Double = {
    val half = math.max(1, xs.size / 2)
    median(xs.takeRight(half)) / median(xs.take(half))
  }

  /** The highest percentile with at least ten samples above it: with n
    * samples, the value at sorted rank n-11 (0-based), i.e. percentile
    * 100*(n-10)/n. Returns (value, percentile, n); with fewer than 11
    * samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
