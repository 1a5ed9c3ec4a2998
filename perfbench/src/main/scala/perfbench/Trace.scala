package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Cumulative Spark runtime and JVM counters at one instant. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, spillB: Long = 0,
    planMs: Long = 0, fileWriteNs: Long = 0, gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB, spillB - o.spillB,
    planMs - o.planMs, fileWriteNs - o.fileWriteNs, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB, spillB + o.spillB,
    planMs + o.planMs, fileWriteNs + o.fileWriteNs, gcMs + o.gcMs)
}

/** One timed call: which program layer it enters, the public call, the
  * phase it belongs to, its wall time and the runtime counters it moved.
  */
final case class Span(
    layer: String, call: String, phase: String, startS: Double, wallS: Double,
    delta: Counters, error: Option[String])

/** The benchmark's own SparkListener and QueryExecutionListener. Task,
  * stage and job events feed the executor-side counters; each finished
  * query adds its Catalyst planning time, and each file-writing command its
  * wall time (the cache's write-through).
  */
final class RuntimeListener extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, runMs, cpuNs = new AtomicLong
  private val shuffleW, shuffleR, spill, planMs, fileWriteNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    if (qe.analyzed.exists(_.isInstanceOf[DataWritingCommand]))
      fileWriteNs.addAndGet(durationNs)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  def snapshot(): Counters = Counters(
    jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
    shuffleW.get, shuffleR.get, spill.get, planMs.get, fileWriteNs.get, Tracer.gcMs)
}

/** Times the benchmark's calls into the program. The untraced tracer only
  * measures wall time; the traced one also registers [[RuntimeListener]],
  * drains the listener bus after every call so each span sees exactly its
  * own events, and keeps every span in memory until the run writes them.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val listener = new RuntimeListener
  private var attached = false
  private val origin = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  var phase = ""

  def attach(): Unit = if (traced && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    attached = false
  }

  private def now(): Counters =
    if (attached) { ListenerBusDrain(spark.sparkContext); listener.snapshot() }
    else Counters(gcMs = Tracer.gcMs)

  /** Runs `f`, records its span, and returns its value with its wall time. */
  def timed[T](layer: String, call: String)(f: => T): (T, Double) = {
    val c0 = now()
    val t0 = System.nanoTime()
    def record(err: Option[String]): Double = {
      val dt = (System.nanoTime() - t0) / 1e9
      if (attached) spans += Span(layer, call, phase, (t0 - origin) / 1e9, dt, now() - c0, err)
      dt
    }
    try {
      val v = f
      (v, record(None))
    } catch {
      case e: Throwable =>
        record(Some(Tracer.describe(e)))
        throw e
    }
  }
  def span[T](layer: String, call: String)(f: => T): T = timed(layer, call)(f)._1

  /** Wall of `f` traced and untraced, as (traced, untraced): each the mean
    * of two runs in the order untraced, traced, traced, untraced, so JIT
    * warm-up favours neither. Leaves the tracer attached.
    */
  def overhead(f: => Double): (Double, Double) = {
    detach(); val p1 = f
    attach(); val t1 = f
    val t2 = f
    detach(); val p2 = f
    attach()
    ((t1 + t2) / 2, (p1 + p2) / 2)
  }

  /** Counters for a whole region, whether or not spans were taken in it. */
  def region[T](f: => T): (T, Double, Counters) = {
    val c0 = now()
    val t0 = System.nanoTime()
    val v = f
    val dt = (System.nanoTime() - t0) / 1e9
    (v, dt, now() - c0)
  }
}

object Tracer {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** Runtime metrics of a region executed on `cores` cores in `wallS`. */
  def runtimeMetrics(c: Counters, wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.plan_ms" -> c.planMs.toDouble,
    "spark.jobs" -> c.jobs.toDouble,
    "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble,
    "spark.exec_run_s" -> c.runMs / 1e3,
    "spark.exec_cpu_s" -> c.cpuNs / 1e9,
    "spark.exec_busy_frac" -> (if (wallS > 0) c.runMs / 1e3 / (wallS * cores) else 0.0),
    "spark.shuffle_write_mb" -> c.shuffleWriteB / 1e6,
    "spark.shuffle_read_mb" -> c.shuffleReadB / 1e6,
    "spark.spill_mb" -> c.spillB / 1e6,
    "jvm.gc_s" -> c.gcMs / 1e3)
}
