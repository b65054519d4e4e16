package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a module, recorded by the benchmark around its
  * own call sites. `parent` is the id of the enclosing span on the same
  * thread (0 = none); spans of one benchmark operation share `op`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled it only runs the body; spans are
  * written out once, at the end of the run. `overheadNs` is the time
  * spent in its own bookkeeping around the bodies. */
final class Tracer {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private val spent = new AtomicLong(0L)
  def overheadNs: Long = spent.get
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val curOp = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Tag the spans the current thread records next with operation `op`. */
  def beginOp(op: Long): Unit = curOp.set(op)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        val s = Span(id, name, t0, t1, parent, curOp.get)
        spans.synchronized { spans += s }
        spent.addAndGet(t0 - enter + System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** Spark engine counters over a window: jobs, stages, tasks, task and
  * GC seconds, shuffle and spill bytes, and the part of the timed wall
  * time NOT covered by any running job (driver-side work: parsing,
  * planning, result handling). With `group` set, only jobs submitted
  * under that job group count — the nightly pass tags its timed work so
  * the checks between passes stay out. `callbackNs` is the time its own
  * callbacks took (tracing overhead). */
final class SparkCounters(group: Option[String]) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var taskMs, gcMs, shuffleBytes, spillBytes = 0L
  private val stageIds = scala.collection.mutable.Set.empty[Int]
  // job intervals in listener-event time (epoch ms): the bus delivers
  // events asynchronously, so arrival time would smear the intervals
  private val running = scala.collection.mutable.Set.empty[Int]
  private var coveredMs = 0L
  private var openSince = 0L
  private var windowStart = 0L
  @volatile var callbackNs = 0L

  /** Run one callback body under the lock, adding its time to
    * [[callbackNs]]. */
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    taskMs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0
    coveredMs = 0; callbackNs = 0; windowStart = System.currentTimeMillis()
    openSince = if (running.nonEmpty) windowStart else 0L
  }

  private def counted(e: SparkListenerJobStart): Boolean =
    group.forall(g => Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    if (counted(e)) {
      jobs += 1
      stageIds ++= e.stageIds
      if (running.isEmpty) openSince = math.max(e.time, windowStart)
      running += e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    if (running.remove(e.jobId) && running.isEmpty && openSince > 0L) {
      coveredMs += math.max(0L, e.time - openSince)
      openSince = 0L
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed { if (stageIds(e.stageInfo.stageId)) stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (stageIds(e.stageId)) {
      tasks += 1
      if (m != null) {
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters since the last [[reset]], as per-layer metric values;
    * `timedS` is the wall time the window's operations took. Events
    * reach the listener asynchronously: the caller leaves the bus a
    * moment to drain before this call. */
  def snapshot(timedS: Double): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_s" -> taskMs / 1e3,
      "spark.driver_s" -> math.max(0.0, timedS - coveredMs / 1e3),
      "spark.shuffle_mb" -> shuffleBytes / 1e6,
      "spark.spill_mb" -> spillBytes / 1e6,
      "spark.gc_s" -> gcMs / 1e3)
  }
}

object SparkCounters {
  /** Register a fresh counter set on `sc`. */
  def attach(sc: SparkContext, group: Option[String]): SparkCounters = {
    val c = new SparkCounters(group)
    sc.addSparkListener(c)
    c
  }
}
