package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.CacheScope

/** What one workload run hands back: every set-up repetition, the
  * latency of each operation that succeeded in the measured window, the
  * timed seconds, failure counts, the per-layer numbers (empty in
  * untraced runs), and free-form detail for the sidecar. */
final case class Outcome(
    setupS: Seq[Double],
    opMs: Seq[Double],
    timedS: Double,
    attempted: Long,
    failed: Long,
    perLayer: Map[String, Double],
    detail: Map[String, Any])

/** Shared state of one run. `countGroup` restricts the Spark counters
  * to jobs submitted inside [[timed]] (workloads whose checks run Spark
  * jobs between operations). */
final class Ctx(val spark: SparkSession, val seed: Long,
                val traced: Boolean, val work: File, countGroup: Boolean) {
  val tracer = new Tracer
  private val group = "perfbench-timed"
  val counters: Option[SparkCounters] =
    if (traced)
      Some(SparkCounters.attach(spark.sparkContext,
        if (countGroup) Some(group) else None))
    else None
  private var peakCached, baseCached = 0L
  val canaryS = ArrayBuffer.empty[Double]

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run `body` as timed work (its Spark jobs carry the counted group). */
  def timed[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "timed operation", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def storedBytes: Long = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum

  /** Peak Spark block storage (memory + disk), sampled at operation
    * boundaries, outside every timed interval. */
  def sampleCache(): Unit = {
    val b = storedBytes
    synchronized { peakCached = math.max(peakCached, b) }
  }

  /** Mark the blocks stored now as the harness's own (a workload's
    * seeded input), so [[cachedMb]] counts only what the engine caches
    * after this point. */
  def cacheBaseline(): Unit = {
    val b = storedBytes
    synchronized { baseCached = b; peakCached = math.max(peakCached, b) }
  }

  /** Peak block storage above the harness's baseline, in MB. */
  def cachedMb: Double = synchronized((peakCached - baseCached) / 1e6)

  /** Fixed calibration job, timed at the start (before set-up), middle
    * (before the window) and end of every run: a slow box shows here as
    * well as in the workload's numbers. */
  def canary(): Unit = {
    def job() = spark.range(0L, 12000000L, 1L, 8)
      .select(sum(xxhash64(col("id")) % 1000L)).collect()
    if (canaryS.isEmpty) job() // JIT warm-up, so the start time compares
    val t0 = System.nanoTime()
    require(job().length == 1)
    canaryS += (System.nanoTime() - t0) / 1e9
  }

  /** The measured window, after the middle canary: `run` runs the
    * workload's fixed sequence of operations and returns the timed
    * seconds. The sequence does not depend on time, so a faster program
    * cannot change which operations make the samples. A traced run
    * records spans and Spark counters over the window; its tracing
    * overhead is the time the span bookkeeping and the listener
    * callbacks took, as a share of the timed time. */
  def window(run: => Double): (Double, Map[String, Double]) = {
    canary()
    if (!traced) (run, Map.empty)
    else {
      tracer.enabled = true
      counters.foreach(_.reset())
      val t = try run finally tracer.enabled = false
      Thread.sleep(300) // let the listener bus drain
      val c = counters.map(_.snapshot(t)).getOrElse(Map.empty)
      val overheadNs = tracer.overheadNs + counters.map(_.callbackNs).getOrElse(0L)
      (t, c + ("trace.overhead_frac" -> overheadNs / 1e9 / t))
    }
  }

  /** Drop the blocks the engine's operators cached and collect garbage,
    * as `graft.Bench` does between entries. */
  def release(): Unit = {
    CacheScope.global.release()
    System.gc()
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest of the usual tail percentiles that still has at least
    * ten samples beyond it (the median when none has). */
  def tailPct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10)
      .getOrElse(50.0)

  def tail(xs: Seq[Double]): Double = quantile(xs, tailPct(xs.length) / 100)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

/** Minimal JSON writer for the result line and the trace sidecar. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
