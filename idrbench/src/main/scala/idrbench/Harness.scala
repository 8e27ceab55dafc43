package idrbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one unit of work reported. */
final class UnitLog {
  /** Client-visible writes: time from data landing to its rows being readable. */
  val writes: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  /** Client-visible reads of the output. */
  val reads: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  /** Checked operations, and the failed checks among them. */
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Counts one checked operation and records its failed checks. */
  def checked(failed: Seq[String]): Unit = {
    attempted += 1
    if (failed.nonEmpty) failures += failed.mkString("; ")
  }
  /** Per-layer values of this unit (traced units only). */
  val layers: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()

  def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally into += (System.nanoTime() - t0) / 1e9
  }
}

/** A benchmark workload. The harness calls [[generate]] (inputs, untimed),
  * then [[setUp]] (program work before timing; it counts in `setup_s` with
  * the session start), then [[unit]].
  */
trait Workload {
  def generate(): Unit
  def inputBytes: Long
  /** A description of the input size, printed beside `run_s`. */
  def inputDesc: String
  def setUp(): Unit
  /** One unit of work; returns the wall seconds of its core (the `run_s`
    * sample). With `core`, only the core runs, with its checks. */
  def unit(i: Int, log: UnitLog, core: Boolean): Double
  /** Bytes the program stored on disk, as `stored_bytes_ratio` counts them. */
  def storedBytes: Long
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The percentile the `_tail` metrics report. */
  val TailPct = 90

  /** The [[TailPct]] percentile, interpolated between the two nearest
    * ranks as numpy's default does, as (value, samples above it). With few
    * samples this weighs the largest less than a nearest-rank percentile
    * would. Workloads take a fixed number of samples, so the percentile is
    * taken the same way on every commit. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * TailPct / 100.0
    val lo = h.toInt
    val v = if (lo + 1 < s.size) s(lo) + (h - lo) * (s(lo + 1) - s(lo)) else s(lo)
    (v, s.count(_ > v))
  }
}

object Session {
  def start(work: java.nio.file.Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("idrbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
