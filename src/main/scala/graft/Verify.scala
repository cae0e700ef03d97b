package graft
import java.nio.file.{Files, Paths}
import graft.cli.CliUtil
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated name filter] — the filter runs
    // (and dumps oracle SQL for) only the named queries, for cheap
    // targeted re-checks; the driver's two-arg call is unchanged.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    def keep(name: String) = only.forall(_.contains(name))
    // SPARK_GRAFT_MASTER=local-cluster[2,16,16384] (+ SPARK_GRAFT_JARS,
    // SPARK_HOME) runs the SAME oracle pipeline on real executor JVMs;
    // the factory owns that bootstrap (CliUtil.settings).
    val spark = CliUtil.session("verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => keep(n) }.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE result from an earlier run
        // sitting where the checker would read it as current (it would
        // mask the failure as a value mismatch — or worse, a false pass).
        // The cleanup itself must never escape this handler: one query's
        // failure aborting the loop would zero the whole round.
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            val walk = Files.walk(dir)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala.toSeq.reverse
                .foreach(p => Files.deleteIfExists(p))
            } finally walk.close()
          }
        } catch { case c: Throwable =>
          System.err.println(s"[verify] $name stale-cleanup failed: ${c.getMessage}")
        }
      }
      // finished queries' persisted intermediates are dead weight in a
      // 100+-query session (fresh DataFrames each call never reuse them)
      // — drop them so late queries aren't evicting or spilling. In a
      // `finally` so a THROWING query also releases what it pinned. The
      // operator memo goes with it: its entries hold the dropped pins'
      // plans/RDDs, and nothing later reuses them.
      finally {
        spark.catalog.clearCache()
        graft.operators.LoopCache.clearMemo()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A FILTERED run must not clobber the full oracle_sql.json: stale
    // per-query parquet dirs from a previous full run would remain in
    // outDir, and a later full DuckDB compare against the shrunken map
    // would silently verify fewer queries. Filtered runs write a
    // sibling partial file instead.
    val oracleFile =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
