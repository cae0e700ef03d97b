package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries
import graft.cli.CliUtil
import graft.ops.Kpi
import graft.report.{Charts, Report}

/** In-process side of the benchmark: drives the program's public functions
  * and writes one JSON result file. The Python side (`run.py`) launches it
  * and owns inputs, output checks and OS-level CPU/RSS accounting.
  *
  *   pipeline <bitacora> <outDir> <trace 0|1> <result.json> <seconds> <minIters>
  *   catalog  <corpusDir> <outDir> <trace 0|1> <result.json> <q1,q2,...>
  *   launch   <mainClass> <appName> <result.json> [main args...]
  *
  * Every mode reads PERFBENCH_LAUNCH_NS (epoch ns at process launch) and
  * reports `setup_s` as launch -> SparkSession ready.
  */
object Main {
  val UmbralP90 = 300.0

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The session the CLI would build, with (setup_s, session_s) entries:
    * launch -> ready, and the `CliUtil.session` call alone. */
  private def ready(appName: String): (SparkSession, Seq[(String, String)]) = {
    val launchNs = sys.env("PERFBENCH_LAUNCH_NS").toLong
    val s0 = System.nanoTime()
    val spark = CliUtil.session(appName)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val setupS = (epochNs() - launchNs) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    (spark, Seq("setup_s" -> setupS.toString, "session_s" -> sessionS.toString))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def writeResult(path: String, kv: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(path), Json.obj(kv))

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args.toIndexedSeq); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: IndexedSeq[String]): Unit = args.head match {
    case "pipeline" =>
      pipeline(args(1), args(2), args(3) == "1", args(4), args(5).toDouble, args(6).toInt)
    case "catalog" => catalog(args(1), args(2), args(3) == "1", args(4), args(5).split(",").toSeq)
    case "launch" => launch(args(1), args(2), args(3), args.drop(4).toArray)
    case other => sys.error(s"unknown mode $other")
  }

  /** Drop garbage and reset the OS peak-RSS mark (VmHWM), so the next
    * [[peakRssMb]] reads the peak of the work in between only. */
  private def resetPeakRss(): Unit = {
    System.gc()
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => () }
  }

  /** Peak resident set size since the last reset, from /proc. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Process CPU seconds (user + system) as the OS reports them. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Stage [3] then stage [4], as the CLI runs them, repeated in one
    * process as a closed loop until `seconds` have passed and at least
    * `minIters` iterations after the first ran. The first iteration warms
    * the JVM (JIT, codegen, class loading); the caller keeps it out of the
    * medians. Iteration i writes under `outDir/iter-i`. Traced: two
    * untraced iterations, then the traced one; the last two give the
    * tracing overhead. */
  private def pipeline(in: String, outDir: String, traced: Boolean, result: String,
                       seconds: Double, minIters: Int): Unit = {
    CliUtil.pinLocale()
    val (spark, setup) = ready("perfbench_pipeline")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val iters = Iterator.from(0)
      .takeWhile(i => if (traced) i < 3 else i <= minIters || System.nanoTime() < deadline)
      .map(i => iteration(spark, in, s"$outDir/iter-$i", traced && i == 2))
      .toList
    spark.stop()
    writeResult(result, setup ++ Seq("iterations" -> iters.map(Json.obj).mkString("[", ",", "]")))
  }

  private def iteration(spark: SparkSession, in: String, dir: String,
                        traced: Boolean): Seq[(String, String)] = {
    val kpiDir = s"$dir/kpi"
    val html = Paths.get(s"$dir/report.html")
    def kpiFrame = Kpi.aggregate(Kpi.normalized(Kpi.readBitacora(spark, in)))
    resetPeakRss()
    val c0 = processCpuS()
    val t0 = System.nanoTime()
    val extra: Seq[(String, String)] =
      if (!traced) {
        Kpi.writeKpiCsv(kpiFrame, kpiDir)
        val t1 = System.nanoTime()
        Report.writeReportArtifacts(Kpi.readKpiCsv(spark, kpiDir), UmbralP90, html)
        val t2 = System.nanoTime()
        Seq("kpi_s" -> ((t1 - t0) / 1e9).toString, "report_s" -> ((t2 - t1) / 1e9).toString)
      } else {
        val tr = new Tracer(spark, s"pipeline-${ProcessHandle.current().pid()}")
        // Catalyst fuses scan, normalize and the partial aggregate into one
        // codegen stage, so each public-function prefix runs into the noop
        // sink on its own and self times are the differences
        tr.span("ops.scan", "ops")(noop(Kpi.readBitacora(spark, in)))
        tr.span("ops.normalize", "ops")(noop(Kpi.normalized(Kpi.readBitacora(spark, in))))
        tr.span("ops.aggregate", "ops")(noop(kpiFrame))
        tr.span("ops.write_csv", "ops")(Kpi.writeKpiCsv(kpiFrame, kpiDir))
        // the steps of Report.writeReportArtifacts, copied so each can be
        // timed; report.read adds a count() the program does not run
        val kpi = tr.span("report.read", "report") {
          val k = Kpi.readKpiCsv(spark, kpiDir).cache(); k.count(); k
        }
        val g = tr.span("report.global", "report")(Report.globalMetrics(kpi).collect().head)
        val e = tr.span("report.endpoints", "report")(
          Report.endpointTable(kpi, UmbralP90).collect().toSeq)
        val page = tr.span("report.render", "report")(
          Report.renderHtml(g, e, UmbralP90, withImages = true))
        tr.span("report.charts", "report") {
          val dir = html.toAbsolutePath.getParent
          Charts.plotRequests(e.map(_.getAs[String]("endpoint_base")),
            e.map(_.getAs[Long]("requests_total")), dir.resolve(Report.RequestsPngName))
          Charts.plotP90(e.map(_.getAs[String]("endpoint_base")),
            e.map(_.getAs[Double]("p90_elapsed_ms")), dir.resolve(Report.P90PngName))
          Files.writeString(html, page)
        }
        kpi.unpersist(true)
        tr.close()
        Seq("spans" -> tr.spansJson)
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = processCpuS() - c0
    val rssMb = peakRssMb()
    val counts =
      if (!traced) Seq.empty
      else Seq("rows_scanned" -> Kpi.readBitacora(spark, in).count().toString,
        "rows_kept" -> Kpi.normalized(Kpi.readBitacora(spark, in)).count().toString)
    Seq("dir" -> Json.str(dir), "traced" -> traced.toString, "wall_s" -> wallS.toString,
      "cpu_s" -> cpuS.toString, "peak_rss_mb" -> rssMb.toString) ++ extra ++ counts
  }

  /** A fixed query slice, each query cold: cached tables and operator memos
    * are dropped before it, and the staged-table directory starts empty. */
  private def catalog(corpus: String, outDir: String, traced: Boolean, result: String,
                      names: Seq[String]): Unit = {
    val (spark, setup) = ready("perfbench_catalog")
    val byName = Queries.registry.map(q => q.name -> q).toMap
    val tr = if (traced) Some(new Tracer(spark, s"catalog-${ProcessHandle.current().pid()}")) else None
    val t0 = System.nanoTime()
    val perQuery = names.map { name =>
      val q = byName(name)
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      val q0 = System.nanoTime()
      val err =
        try {
          def body(): Unit =
            q.fn(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          tr match {
            case Some(t) => t.span(s"operators.$name", "operators")(body())
            case None => body()
          }
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val s = (System.nanoTime() - q0) / 1e9
      name -> Json.obj(Seq("wall_s" -> s.toString,
        "error" -> err.map(Json.str).getOrElse("null"),
        "oracle" -> q.oracle.map(Json.str).getOrElse("null")))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tr.foreach(_.close())
    spark.stop()
    writeResult(result, setup ++ Seq("wall_s" -> wallS.toString,
      "queries" -> Json.obj(perQuery),
      "staged" -> graft.operators.Staging.provenanceJson) ++
      tr.map(t => "spans" -> t.spansJson).toSeq)
  }

  /** One CLI main in this process: the session it will get from
    * `CliUtil.session` is created first, so set-up is timed apart from the
    * stage itself; then the unchanged main runs (and stops the session). */
  private def launch(mainClass: String, appName: String, result: String,
                     args: Array[String]): Unit = {
    val (_, setup) = ready(appName)
    val t0 = System.nanoTime()
    try Class.forName(mainClass).getMethod("main", classOf[Array[String]]).invoke(null, args)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    writeResult(result, setup ++ Seq(
      "run_s" -> ((System.nanoTime() - t0) / 1e9).toString))
  }
}
