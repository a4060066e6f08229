package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one operation, filled by [[SparkTrace]]. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var planningMs = 0.0
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** The benchmark's SparkListener and QueryExecutionListener: it joins the
  * Spark jobs, stages and tasks, and the analysis, optimizer and physical
  * planning phases of each executed query, to the operation that ran them.
  * Registered only in traced runs.
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private var cur = new SparkCounters
  private val jobStart = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized { cur = new SparkCounters }
  def peekJobs: Long = synchronized(cur.jobs)
  def take(): SparkCounters = synchronized { val c = cur; cur = new SparkCounters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      cur.stages += 1
      if (m != null) {
        cur.execRunMs += m.executorRunTime
        cur.execCpuNs += m.executorCpuTime
        cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (e.taskInfo != null)
      cur.maxTaskMs = math.max(cur.maxTaskMs, e.taskInfo.duration)
  }

  private def planning(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { cur.planningMs += planning(qe) }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized {
    cur.planningMs += planning(qe)
  }
}

/** Figures of one timed operation. */
final case class OpRecord(wallMs: Double, cpuMs: Double, gcMs: Double,
    items: Int, spans: Map[String, Double], spark: Option[SparkCounters],
    noJobMs: Double, storageMb: Double)

/** Times operations and the spans inside them. Wall, process CPU and GC
  * time are always taken; the Spark counters only when `traced`.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val trace: Option[SparkTrace] =
    if (!traced) None
    else {
      val t = new SparkTrace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    }

  private var spans = mutable.LinkedHashMap.empty[String, Double]

  def gcMs: Double = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s.toDouble
  }

  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Time `f` as span `name` of the current operation (or set-up round). */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally spans(name) = spans.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e6
  }

  def takeSpans(): Map[String, Double] = {
    val s = spans.toMap
    spans = mutable.LinkedHashMap.empty
    s
  }

  /** Spark jobs started so far in the current operation (traced runs). */
  def jobsSoFar(): Option[Long] = trace.map { t =>
    drain()
    t.peekJobs
  }

  private def drain(): Unit =
    org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

  /** Run one operation returning its item count, and record it. */
  def op(f: => Int): OpRecord = {
    trace.foreach { t => drain(); t.reset() }
    takeSpans()
    val gc0 = gcMs
    val cpu0 = cpuMs
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val items = f
    val wall = (System.nanoTime() - n0) / 1e6
    val w1 = System.currentTimeMillis()
    val cpu = cpuMs - cpu0
    val gc = gcMs - gc0
    val sp = takeSpans()
    trace match {
      case None => OpRecord(wall, cpu, gc, items, sp, None, 0.0, 0.0)
      case Some(t) =>
        drain()
        val c = t.take()
        OpRecord(wall, cpu, gc, items, sp, Some(c),
          Probe.noJobMs(c.jobIntervals.toSeq, w0, w1), storageMb())
    }
  }

  /** Block-manager memory in use (cached and checkpointed blocks,
    * broadcast pieces), in MB.
    */
  def storageMb(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0
}

object Probe {
  /** The part of [w0, w1] during which no Spark job ran. */
  def noJobMs(jobs: Seq[(Long, Long)], w0: Long, w1: Long): Double = {
    val clipped = jobs.map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    math.max(0L, (w1 - w0) - covered).toDouble
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
