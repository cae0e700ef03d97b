package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.cli.CliUtil

/** Throwaway component timer for cost attribution (not part of any
  * contract; contents change per investigation). Current (r18 opt):
  * generic per-query stage attribution at the bench protocol — warm on
  * sf0.001, then run each named query twice on the target corpus and
  * print per-stage wall/CPU/shuffle/spill for the SECOND (warm) run.
  * Usage: Scratch <sfDir> <shufflePartitions> <qname>[,qname...] */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val parts = if (args.length > 1) args(1) else "32"
    val names =
      if (args.length > 2) args(2).split(",").map(_.trim).toSeq
      else Seq("q114_frequent_triples")
    val spark = CliUtil.session("scratch")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    spark.sparkContext.setLogLevel("WARN")
    // warm codegen on the tiny corpus first (bench protocol)
    names.foreach { n =>
      try graft.Queries.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    graft.operators.LoopCache.clearMemo()
    @volatile var record = false
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        if (!record) return
        val i = s.stageInfo
        val m = i.taskMetrics
        val wall = (i.completionTime.getOrElse(0L) -
          i.submissionTime.getOrElse(0L)) / 1e3
        println(f"[stage ${i.stageId}%3d] ${i.name.takeWhile(_ != '\n').take(60)}%-60s " +
          f"tasks=${i.numTasks}%4d wall=$wall%7.2fs cpu=${m.executorCpuTime / 1e9}%8.2fs " +
          f"run=${m.executorRunTime / 1e3}%8.2fs " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fM " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fM " +
          f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%6.1fM gc=${m.jvmGCTime / 1e3}%5.2fs")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val cpuSum = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuListener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        cpuSum.addAndGet(s.stageInfo.taskMetrics.executorCpuTime)
    }
    spark.sparkContext.addSparkListener(cpuListener)
    names.foreach { n =>
      val fn = graft.Queries.queries(n)
      // pass 1: derive stages / fill page cache, untimed
      val tc0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val cold = (System.nanoTime() - tc0) / 1e9
      record = true
      println(s"\n===== $n (warm run 1, per-stage) =====")
      // 3 warm reps: min wall is the contention-resistant reading; total
      // task CPU per rep is steal-immune and is the primary A/B signal.
      val reps = (1 to 3).map { i =>
        if (i == 2) record = false
        // steady-state tier semantics (bench SPARK_GRAFT_CHUNK_CLEAR=1):
        // caches + operator memos dropped, so iterative queries re-run
        // instead of returning their LoopCache memo
        spark.catalog.clearCache()
        graft.operators.LoopCache.clearMemo()
        cpuSum.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, cpuSum.get() / 1e9)
      }
      record = false
      val walls = reps.map(r => f"${r._1}%.2f").mkString("/")
      val cpus2 = reps.map(r => f"${r._2}%.2f").mkString("/")
      println(f"[scratch] $n @ $sfDir parts=$parts: cold=$cold%.2f s " +
        f"warm=$walls s (min=${reps.map(_._1).min}%.2f) cpu=$cpus2 s " +
        f"(min=${reps.map(_._2).min}%.2f)")
    }
    spark.stop()
  }
}
