package graft.tools

import graft.Queries
import graft.cli.CliUtil

/** Debug helper: dump the named queries' results to parquet so they can
  * be diffed against a local DuckDB oracle run without a full Verify
  * sweep. Usage: runMain graft.tools.DumpQueries <sfDir> <outDir> <name...> */
object DumpQueries {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    val names  = args.drop(2).toSeq
    val spark = CliUtil.session("dump_queries")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = Queries.queries(n)(spark, sfDir)
      val out = df.coalesce(1)
      out.write.mode("overwrite").parquet(s"$outDir/$n")
      // SPARK_GRAFT_EXPLAIN=1: print the final adaptive plan of the
      // FRAME THE ACTION DROVE (the coalesced one) — an un-executed
      // sibling QueryExecution would still show isFinalPlan=false with
      // AQE's runtime join/partitioning choices missing
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
        println(s"[plan] $n\n" + out.queryExecution.executedPlan.toString)
      println(s"[dump] wrote $outDir/$n")
    }
    // matching oracle subset so tools/check_oracle.py works on the dump dir
    val oracles = names.flatMap(n => Queries.oracleSql.get(n).map(n -> _))
    val json = oracles.map { case (k, v) =>
      "\"" + k + "\": " + com.fasterxml.jackson.databind.json.JsonMapper
        .builder().build().writeValueAsString(v)
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
