package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced span: wall interval plus the task metrics of every job the
  * span's code ran (jobs are tagged with the span name as job group). */
final case class Span(
    name: String, parent: String, runId: String, startNs: Long, endNs: Long,
    taskCpuS: Double, gcS: Double, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, sortFallbackTasks: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-owned listeners. Spans are kept in memory and written out by
  * the caller at exit. Every workload runs one job at a time, so the jobs
  * of a span are exactly those submitted under its job group. */
final class Tracer(spark: SparkSession, runId: String)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobsEnded = ConcurrentHashMap.newKeySet[Int]()
  // group -> (cpu ns, gc ms, shuffle write, shuffle read, spill)
  private val totals = new ConcurrentHashMap[String, Array[Long]]()
  private val fallbacks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var pendingQe: CountDownLatch = new CountDownLatch(0)
  @volatile private var currentGroup = ""
  val spans = mutable.ArrayBuffer[Span]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""),
        _ => new Array[Long](5))
      t.synchronized {
        t(0) += m.executorCpuTime
        t(1) += m.jvmGCTime
        t(2) += m.shuffleWriteMetrics.bytesWritten
        t(3) += m.shuffleReadMetrics.totalBytesRead
        t(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    var n = 0L
    foreach(qe.executedPlan) { p =>
      p.metrics.get("numTasksFallBacked").foreach(m => n += m.value)
    }
    fallbacks.merge(currentGroup, n, (a, b) => a + b)
    pendingQe.countDown()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    pendingQe.countDown()

  /** Run `body` as span `name`; returns its result after the listener bus
    * has delivered every task of the span's jobs. */
  def span[T](name: String, parent: String)(body: => T): T = {
    currentGroup = name
    pendingQe = new CountDownLatch(1)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    val jobs = sc.statusTracker.getJobIdsForGroup(name)
    while (!jobs.forall(j => jobsEnded.contains(j)) && System.nanoTime() < deadline)
      Thread.sleep(5)
    // spans that ran a DataFrame action get one execution callback
    if (jobs.nonEmpty) pendingQe.await(2, TimeUnit.SECONDS)
    val t = Option(totals.get(name)).getOrElse(new Array[Long](5))
    spans += Span(name, parent, runId, t0, t1, t(0) / 1e9, t(1) / 1e3, t(2), t(3), t(4),
      Option(fallbacks.get(name)).map(_.longValue).getOrElse(0L))
    currentGroup = ""
    out
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def spansJson: String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},"run":${Json.str(s.runId)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"wall_s":${s.wallS},""" +
      s""""task_cpu_s":${s.taskCpuS},"gc_s":${s.gcS},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
      s""""shuffle_read_bytes":${s.shuffleReadBytes},"spill_bytes":${s.spillBytes},""" +
      s""""sort_fallback_tasks":${s.sortFallbackTasks}}"""
  }.mkString("[", ",", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
