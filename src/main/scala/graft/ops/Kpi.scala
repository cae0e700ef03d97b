package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's core query (stage [3], /root/reference/src/calcular_kpi.py):
  * bitácora log → daily per-endpoint KPI table.
  *
  * Logical plan (one shuffle):
  *   scan → null-guard filter (P1) → key derivation (P2/P3) + lenient casts
  *   (P4-P6) → hash aggregate A1-A6 (partial+final around an Exchange on the
  *   group key) → py_round 2dp (P11, CPython-identical half-even) → sort (O1).
  *
  * Scale notes: the only non-streaming aggregate is the per-group value
  * buffer the exact p90 (and, in the faithful tier, numpy's scan-order
  * mean) needs — the same cost shape as the reference's per-group
  * `elapsed` lists (calcular_kpi.py:15,24). The faithful tier keeps it
  * primitive ([[graft.functions.NpElapsedStats]]: ~20 bytes per value,
  * file paths once per split); the crossEngineExact tier uses Spark's
  * builtin `percentile` (a value → count map). Everything else is a
  * streaming partial agg.
  */
object Kpi {

  /** Input contract of the reference's JSONL scan (S1): all fields read as
    * strings, coerced leniently downstream (calcular_kpi.py:90-114). */
  val bitacoraSchema: StructType = StructType(Seq(
    StructField("timestamp_utc", StringType),
    StructField("endpoint", StringType),
    StructField("status_code", StringType),
    StructField("elapsed_ms", StringType),
    StructField("parse_result", StringType)))

  /** Output contract (K2): fixed 9-column order, calcular_kpi.py:124-134. */
  val kpiColumns: Seq[String] = Seq(
    "date_utc", "endpoint_base", "requests_total", "success_2xx",
    "client_4xx", "server_5xx", "parse_errors", "avg_elapsed_ms",
    "p90_elapsed_ms")

  /** S1 — JSONL scan with the reference's abort-on-malformed-line contract
    * (calcular_kpi.py:80-83): FAILFAST fails the job on any unparseable line;
    * blank lines are skipped by Spark's JSON reader. */
  def readBitacora(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(bitacoraSchema).option("mode", "FAILFAST").json(path)

  /** P2 — strict timestamp→date projection. With `strict=true`, a non-null
    * value that does not match the reference's format aborts the job, like
    * calcular_kpi.py:52 (strptime raise). */
  def dateUtc(tsString: Column, strict: Boolean = true): Column = {
    val parsed = to_date(try_to_timestamp(tsString, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    if (strict)
      when(tsString.isNotNull && parsed.isNull,
        raise_error(concat(lit("timestamp_utc does not match yyyy-MM-ddTHH:mm:ssZ: "), tsString)))
        .otherwise(parsed)
    else parsed
  }

  /** P1+P2+P3+P4-P6 — the normalized projection feeding the aggregate. */
  def normalized(bitacora: DataFrame, strictTimestamps: Boolean = true): DataFrame = {
    val f = bitacora
      .filter(col("timestamp_utc").isNotNull && col("endpoint").isNotNull)
    val anyCastFailed =
      Normalize.castFailed(col("status_code"), "int") ||
      Normalize.castFailed(col("elapsed_ms"), "double")
    f.select(
      dateUtc(col("timestamp_utc"), strictTimestamps).as("date_utc"),
      Normalize.endpointBase(col("endpoint")).as("endpoint_base"),
      Normalize.lenientInt(col("status_code")).as("status_code"),
      Normalize.lenientDouble(col("elapsed_ms")).as("elapsed_ms"),
      Normalize.effectiveParseResult(col("parse_result"), anyCastFailed).as("parse_result"))
  }

  /** A1-A6 + P7/P8 + P11 + O1 — the KPI aggregation over a normalized log
    * with columns (date_utc, endpoint_base, status_code, elapsed_ms,
    * parse_result). Exact p90 is linear interpolation at position
    * (n−1)·0.9, but WHICH lerp depends on the mode, because the two
    * ground truths differ at the last ULP (see
    * [[graft.functions.NpElapsedStats.npPercentile]]): np.percentile (the
    * reference, calcular_kpi.py:39-44) branches its formula at t ≥ 0.5,
    * while Spark's builtin `Percentile` and DuckDB's `quantile_cont` share
    * a two-product form — and a 1-ULP difference flips `py_round` exactly
    * on 2-decimal midpoints (caught live by the parity gate).
    *
    * Two output modes:
    *  - faithful (default): reference contract — avg and p90 replay
    *    np.mean / np.percentile bit for bit from one primitive per-group
    *    buffer ([[graft.functions.NpElapsedStats]]), both rounded to 2 dp
    *    with CPython's exact-binary half-even (`py_round`, P11).
    *  - crossEngineExact: no rounding; avg is computed from an exact
    *    DECIMAL(18,2) sum (elapsed values are 2-dp by contract) divided in
    *    double, and p90 is the builtin `Percentile` — bit-identical to
    *    DuckDB's quantile_cont (verified empirically), which the driver's
    *    hash-compare gate needs.
    *    (DuckDB's round_even on DOUBLE misrounds near ties, and double sums
    *    are order-dependent, so rounded outputs can NOT be made portable.)
    */
  def aggregate(normalized: DataFrame, crossEngineExact: Boolean = false): DataFrame = {
    // Faithful tier: np.mean is pairwise summation over the group's values
    // IN SCAN ORDER, and that order is enforced, not assumed (ADVICE r13):
    // partial buffers merge in shuffle-FETCH order, nondeterministic once
    // the input splits, and the one-ulp accumulation error decides the
    // printed cent when the true mean lands on a 2-dp midpoint (round-13
    // parity catch: exact 373.045, np.mean 373.04499999999996 → 373.04).
    // Each row therefore carries the file-order key (input_file_name,
    // input_file_block_start, monotonically_increasing_id), which the
    // aggregate sorts by before summing (NpElapsedStats scaladoc). The
    // key is nondeterministic-flagged, so it is materialized in a Project
    // BEFORE the aggregate (Catalyst rejects it inside agg arguments).
    // A plain double avg() is wrong for BOTH tiers: naive left-fold error
    // plus partition-order nondeterminism (round-5 parity catch, 359.705…).
    val (input, latencyAggs, avg, p90) =
      if (crossEngineExact)
        // exact DECIMAL(18,2) sum divided once in double — the correctly-
        // rounded true mean, which DuckDB replays for the hash-portable
        // oracle gate; unrounded, bit-stable doubles
        (normalized,
          Seq((sum(col("elapsed_ms").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_raw"),
            percentile(col("elapsed_ms"), lit(0.9)).as("p90_raw")),
          col("avg_raw"), col("p90_raw"))
      else
        // py_round, not bround: Python rounds the exact binary double,
        // bround rounds its shortest decimal repr — they disagree on values
        // like 696.515 (see PyRoundExpression scaladoc; caught by the
        // parity gate)
        (normalized.select(col("*"), input_file_name().as("_scan_f"),
          input_file_block_start().as("_scan_b"),
          monotonically_increasing_id().as("_scan_i")),
          Seq(graft.functions.NpElapsedStats.npElapsedStats(col("elapsed_ms"),
            col("_scan_f"), col("_scan_b"), col("_scan_i")).as("latency")),
          graft.functions.PyRoundExpression.pyRound(col("latency.mean"), 2),
          graft.functions.PyRoundExpression.pyRound(col("latency.p90"), 2))
    val counts = Seq(
      count(lit(1)).as("requests_total"),
      count_if(col("status_code").between(200, 299)).as("success_2xx"),
      count_if(col("status_code").between(400, 499)).as("client_4xx"),
      count_if(col("status_code").between(500, 599)).as("server_5xx"),
      count_if(col("parse_result") =!= "ok").as("parse_errors"))
    input
      .groupBy(col("date_utc"), col("endpoint_base"))
      .agg(counts.head, counts.tail ++ latencyAggs: _*)
      .select(
        col("date_utc"), col("endpoint_base"), col("requests_total"),
        col("success_2xx"), col("client_4xx"), col("server_5xx"),
        col("parse_errors"), avg.as("avg_elapsed_ms"), p90.as("p90_elapsed_ms"))
      .orderBy(col("date_utc"), col("endpoint_base"))
  }

  /** End-to-end reference query: raw bitácora → sorted KPI table. */
  def bitacoraKpi(
      bitacora: DataFrame,
      strictTimestamps: Boolean = true,
      crossEngineExact: Boolean = false): DataFrame =
    aggregate(normalized(bitacora, strictTimestamps),
      crossEngineExact = crossEngineExact)

  /** Output schema of the KPI CSV (explicit — never inferred, SURVEY §1.3). */
  val kpiSchema: StructType = StructType(Seq(
    StructField("date_utc", DateType),
    StructField("endpoint_base", StringType),
    StructField("requests_total", LongType),
    StructField("success_2xx", LongType),
    StructField("client_4xx", LongType),
    StructField("server_5xx", LongType),
    StructField("parse_errors", LongType),
    StructField("avg_elapsed_ms", DoubleType),
    StructField("p90_elapsed_ms", DoubleType)))

  /** S2 — KPI CSV scan with the explicit schema (generar_reporte.py:262
    * uses pandas inference; we never infer). */
  def readKpiCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(kpiSchema).csv(path)

  /** K2 — single-CSV sink reproducing the reference's file contract
    * (calcular_kpi.py:121-153). `coalesce(1)` is a small-scale compat mode
    * only — at scale, drop it and write a partitioned directory. */
  def writeKpiCsv(kpi: DataFrame, dir: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) kpi.coalesce(1) else kpi
    out.select(kpiColumns.map(col): _*)
      .write.mode("overwrite").option("header", "true").csv(dir)
  }
}
