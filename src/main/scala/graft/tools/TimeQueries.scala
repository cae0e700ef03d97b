package graft.tools

import graft.Queries
import graft.cli.CliUtil

/** Scratch per-query timer (not part of the driver contract):
  * `sbt "runMain graft.tools.TimeQueries <sfDir> <name...>"` — warms each
  * query once, then reports the min of two timed noop-sink runs. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    CliUtil.pinLocale() // JSON %.3f must be dot-decimal (ADVICE r13)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.benchNames
    // SPARK_GRAFT_MASTER=local-cluster[2,16,16384] + SPARK_GRAFT_JARS
    // time the same queries across a REAL process boundary — the
    // cluster-vs-local cost attribution probe (VERDICT r15 #6).
    val spark = CliUtil.session("time_queries")
    // scratch-tool escape hatch: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    // layers experimental SQL confs on top for A/B timing runs
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = Queries.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // report BOTH tiers (same honesty as Bench): cold = the first run,
      // caches empty; warm = min of two further runs riding whatever the
      // cold run legitimately pinned (LoopCache finals, semantic cache)
      val cold = once()
      println(f"[time] $n: cold $cold%.3f s, warm ${math.min(once(), once())}%.3f s")
      // drop this query's persisted plans AND operator memos so the
      // NEXT query's timing doesn't silently read a warm cross-query
      // cache (within-query warm reuse across the passes is the point
      // and stays — the memo is what makes Hits/SSSP warm zero-job)
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
    }
    spark.stop()
  }
}
