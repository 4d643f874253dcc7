package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as the timestamps Spark's listener events carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a layer. `request` groups the spans of one job or
  * request; `parent` is the span that was open on the same thread.
  */
final case class Span(
    id: String, name: String, parent: String, request: Long,
    start: Double, end: Double)

/** The traced run's recorder. Spans are opened by the benchmark around its
  * own calls into the engine; each span sets the thread's Spark job group
  * to its id, so the listener can attribute every job, stage and task to
  * the span that caused it. Everything stays in memory until [[dump]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  private val stageGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
  private val planMs = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Double])
  private val ids = new AtomicLong
  private val open = new ThreadLocal[List[(String, String)]] {
    override def initialValue(): List[(String, String)] = Nil
  }
  @volatile private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Record a span around `body`; while it runs, Spark jobs submitted
    * from this thread carry the span's id as their job group.
    */
  def span[T](name: String, request: Long)(body: => T): T = {
    val id = s"s${ids.incrementAndGet()}"
    val stack = open.get
    val parent = stack.headOption.map(_._1).getOrElse("")
    open.set((id, name) :: stack)
    if (sc != null) sc.setJobGroup(id, name)
    val start = Clock.ms()
    try body
    finally {
      spans.add(Span(id, name, parent, request, start, Clock.ms()))
      open.set(stack)
      if (sc != null) stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(pid, pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Planning time (analysis + optimization + planning phases) of a
    * finished query, once the listener has seen it.
    */
  def planMsOf(qe: QueryExecution): Option[Double] = Option(planMs.get(qe))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.put(qe, qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    jobStarts.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroups.putIfAbsent(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (g, start) = Option(jobStarts.get(e.jobId)).getOrElse(("", e.time))
    jobs.add(Map("job" -> e.jobId, "group" -> g, "start" -> start, "end" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroups.put(e.stageInfo.stageId, group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "group" -> Option(stageGroups.get(s.stageId)).getOrElse(""),
      "submitted" -> s.submissionTime.getOrElse(0L),
      "completed" -> s.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val base = Map[String, Any]("stage" -> e.stageId, "launch" -> i.launchTime,
      "finish" -> i.finishTime, "ok" -> i.successful, "attempt" -> i.attemptNumber)
    tasks.add(if (m == null) base else base ++ Map(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "peak_mem" -> m.peakExecutionMemory,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
      "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "in_bytes" -> m.inputMetrics.bytesRead,
      "out_bytes" -> m.outputMetrics.bytesWritten))
  }

  /** Wait until the listener has seen every event posted so far: run a
    * marker query under its own job group and wait for its job's end and
    * its query-execution callback, which the bus delivers after all
    * earlier events.
    */
  def drain(spark: SparkSession): Unit = {
    sc.setJobGroup("bench.drain", "bench.drain")
    val df = spark.range(1).toDF()
    df.collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((planMsOf(df.queryExecution).isEmpty ||
        !jobs.asScala.exists(_("group") == "bench.drain")) &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  def dump: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "request" -> s.request, "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq.map { t =>
      t + ("group" -> Option(stageGroups.get(t("stage").asInstanceOf[Int])).getOrElse(""))
    })
}
