package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.cli.CliUtil

/** Scratch stage-level profiler for the KPI-family hotspot (q01/q03/q04):
  * isolates scan, JSON extract, string round-trip, lenient casts, and the
  * exact-percentile aggregate. Not part of the driver contract. */
object KpiProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = CliUtil.session("kpi_profile")
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime(); f
      val t1 = System.nanoTime(); f
      println(f"[kpi] $label: ${math.min(t1 - t0, System.nanoTime() - t1) / 1e9}%.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val ev = Tables.events(spark, sfDir)
    time("scan only")(noop(ev))
    val k = get_json_object(col("props"), "$.k").cast("int")
    time("scan + json k")(noop(ev.select(col("ts"), k.as("k"), col("value"))))
    val k2 = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
    time("scan + from_json k")(noop(ev.select(col("ts"), k2.as("k"), col("value"))))
    val bit = ev.select(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp_utc"),
      concat(lit("/"), col("event_type"), lit("?k="), k).as("endpoint"),
      when(k < 88, 200).when(k < 96, 400).otherwise(500)
        .cast("string").as("status_code"),
      col("value").cast("string").as("elapsed_ms"),
      when(k % 20 === 0, "error").otherwise("ok").as("parse_result"))
    time("bitacora projection")(noop(bit))
    val norm = graft.ops.Kpi.normalized(bit)
    time("+ normalize (ts reparse, lenient casts)")(noop(norm))
    val grouped = norm.groupBy(col("date_utc"), col("endpoint_base"))
    time("+ agg WITHOUT p90")(noop(grouped.agg(
      count(lit(1)).as("requests_total"),
      avg(col("elapsed_ms")).as("avg_elapsed_ms"))))
    time("+ agg WITH exact p90")(noop(grouped.agg(
      count(lit(1)).as("requests_total"),
      percentile(col("elapsed_ms"), lit(0.9)).as("p90_elapsed_ms"))))
    time("full q01")(noop(graft.QueriesKpi.kpiDaily(spark, sfDir)))
    spark.stop()
  }
}
