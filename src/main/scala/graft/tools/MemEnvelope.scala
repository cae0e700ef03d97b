package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.cli.CliUtil

/** Task-metrics envelope for one query execution: peak per-task execution
  * memory (the number that decides executor sizing — Spark's unified
  * memory manager grants execution memory per task slot), total shuffle
  * bytes written/read (the exchange payload), input bytes scanned, and
  * spill. Collected from TaskEnd events, drained through the listener
  * bus before reading (CoreBridge.drainListeners) so the numbers cover
  * every task of the measured body. */
final class TaskEnvelope extends SparkListener {
  val peakTaskMem = new AtomicLong(0L) // MAX over tasks
  val shuffleWrite = new AtomicLong(0L) // sums over tasks
  val shuffleRead = new AtomicLong(0L)
  val input = new AtomicLong(0L)
  val memSpill = new AtomicLong(0L)
  val diskSpill = new AtomicLong(0L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max _)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }
}

object TaskEnvelope {
  final case class Env(
      sec: Double, peakTaskMem: Long, shuffleWrite: Long, shuffleRead: Long,
      input: Long, memSpill: Long, diskSpill: Long)

  /** Run `body` with a fresh envelope listener attached; returns the
    * drained measurements. Not reentrant across concurrent queries on
    * the same session (tasks of anything else running land in the same
    * envelope — run measured queries one at a time). */
  def measure(spark: SparkSession)(body: => Unit): Env = {
    val l = new TaskEnvelope
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    try body
    finally {
      org.apache.spark.graftbridge.CoreBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    Env((System.nanoTime() - t0) / 1e9, l.peakTaskMem.get(),
      l.shuffleWrite.get(), l.shuffleRead.get(), l.input.get(),
      l.memSpill.get(), l.diskSpill.get())
  }
}

/** Memory-envelope probe for the heavy queries (VERDICT r8 #6): runs each
  * query production-cold (caches + memos dropped first, so the envelope
  * is the query's own work, nothing shared from a sibling) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line per query plus a markdown
  * table for SCALE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          tools/run_main.sh graft.tools.MemEnvelope [q65,q121,...]
  */
object MemEnvelope {
  private val DefaultHeavy = Seq(
    "q65_salted_skew_join", "q68_zorder_layout", "q66_multimodal_meta",
    "q67_rare_token_score", "q121_fuzzy_matches", "q84_semantic_dedup",
    "q56_corpus_prep", "q33_simhash_near_dups", "q61_hourly_event_rollup",
    "q32_minhash_pairs")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names =
      if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else DefaultHeavy
    val spark = CliUtil.session("mem_envelope")
    spark.sparkContext.setLogLevel("WARN")
    val byName = graft.Queries.registry.map(q => q.name -> q).toMap
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    println("| query | sec | peak task mem MB | shuffle write MB | " +
      "shuffle read MB | input MB | spill (mem/disk) MB |")
    println("|---|---|---|---|---|---|---|")
    names.foreach { n =>
      val q = byName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val e = TaskEnvelope.measure(spark) {
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      println(f"| $n | ${e.sec}%.2f | ${mb(e.peakTaskMem)} | " +
        f"${mb(e.shuffleWrite)} | ${mb(e.shuffleRead)} | ${mb(e.input)} | " +
        f"${mb(e.memSpill)}/${mb(e.diskSpill)} |")
    }
    spark.stop()
  }
}
