package graft.tools
import org.apache.spark.scheduler._
import graft.cli.CliUtil

/** Scratch per-job profiler (not part of the driver contract): wall time
  * per job plus, per stage, task count and summed executor run time — so
  * a slow query can be attributed to scheduling overhead (many tasks,
  * tiny run time) vs real work (run time ≈ wall × cores). */
object ProfQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val name = args(1)
    val spark = CliUtil.session("prof_q")
    spark.sparkContext.setLogLevel("WARN")
    val stageRun = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        t0.put(j.jobId, (System.nanoTime(), j.stageInfos.map(_.stageId)))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        stageRun.put(i.stageId,
          (i.taskMetrics.executorRunTime, i.numTasks, i.name.take(60)))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(t0.get(j.jobId)).foreach { case (s, stages) =>
          val det = stages.flatMap(id => Option(stageRun.get(id))).map {
            case (run, n, nm) => f"[$nm n=$n run=${run / 1e3}%.1fs]"
          }.mkString(" ")
          println(f"[job ${j.jobId}%3d] ${(System.nanoTime() - s) / 1e9}%7.2f s  $det")
        }
    })
    // optional 3rd arg: iteration count (default 1). Later iterations
    // profile the WARM shape — page cache hot, codegen compiled.
    val iters = if (args.length > 2) args(2).toInt else 1
    for (it <- 1 to iters) {
      println(s"--- iteration $it")
      val t = System.nanoTime()
      graft.Queries.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[total] ${(System.nanoTime() - t) / 1e9}%.2f s")
      Thread.sleep(300) // let stragglers' listener events drain
    }
    spark.stop()
  }
}
