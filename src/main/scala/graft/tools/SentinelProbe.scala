package graft.tools

import graft.cli.CliUtil

/** Standalone sentinel-variance check: prints N timings of the Bench
  * sentinel at a given row count so the drift threshold can be set from
  * measured noise, not guessed. */
object SentinelProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val n = if (args.length > 1) args(1).toInt else 12
    val spark = CliUtil.session("sentinel_probe")
    spark.sparkContext.setLogLevel("ERROR")
    val ts = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      spark.range(rows).selectExpr("sum(id * 2 + 1) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"rows=$rows n=$n min=${ts.min}%.3f max=${ts.max}%.3f " +
      f"max/min=${ts.max / ts.min}%.2f all=${ts.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
