package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters, bumped from the listener-bus thread. */
final class BenchListener extends SparkListener {
  val jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, input,
    output, schemaJobs = new AtomicLong
  /** (start, end) epoch-ms of every finished job, for driver-only time. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    started.put(e.jobId, e.time)
    // the final (result) stage names the call site that started the job;
    // "parquet at Tables.scala" is Tables.load's schema inference
    if (e.stageInfos.nonEmpty &&
        e.stageInfos.maxBy(_.stageId).name.startsWith("parquet at Tables.scala"))
      schemaJobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(t0 => jobSpans.add((t0, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Wall ms in [from, to] during which at least one job was running. */
  def busyMs(from: Long, to: Long): Long = {
    val clipped = jobSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy + (curB - curA)
  }
}

/** One recorded call: name, wall interval, parent, run id, and the counter
  * deltas observed between its start and its end. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def apply(k: String): Double = counters.getOrElse(k, 0.0)
}

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * drains the listener bus at both ends so each span's counter deltas
  * include every event its own jobs produced. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val listener = new BenchListener
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opened = 0
  private var enabled = false
  private var bookkeepingNs = 0L

  /** Wall seconds spent recording spans rather than running the body. */
  def bookkeepingSeconds: Double = bookkeepingNs / 1e9

  def on(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }
  def off(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(listener); enabled = false
  }
  def recorded: Seq[Span] = spans.toSeq

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def snapshot(): Map[String, Double] = {
    import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
    val l = listener
    Map(
      "jobs" -> l.jobs.get, "stages" -> l.stages.get, "tasks" -> l.tasks.get,
      "task_ms" -> l.taskMs.get, "shuffle_read_b" -> l.shuffleRead.get,
      "shuffle_write_b" -> l.shuffleWrite.get, "spill_b" -> l.spill.get,
      "input_b" -> l.input.get, "output_b" -> l.output.get,
      "schema_jobs" -> l.schemaJobs.get,
      "files_listed" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "gc_ms" -> gcMs,
      "wall_ms" -> System.currentTimeMillis()).map { case (k, v) => k -> v.toDouble }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = opened
      opened += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      org.apache.spark.perfbench.ListenerDrain(sc)
      val c0 = snapshot()
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        org.apache.spark.perfbench.ListenerDrain(sc)
        val c1 = snapshot()
        stack = stack.tail
        val d = c1.map { case (k, v) => k -> (v - c0(k)) } +
          ("busy_ms" -> listener.busyMs(c0("wall_ms").toLong, c1("wall_ms").toLong).toDouble)
        spans += Span(id, parent, name, runId, t0, t1, d)
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** Self time per span name: duration minus the duration of direct
    * children, summed over every span of that name. Names are grouped by
    * their prefix up to ':' (`query:q1_agg` counts as `query`). */
  def selfTimes: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.groupBy(_.name.takeWhile(_ != ':')).view.mapValues(
      _.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
  }
}
