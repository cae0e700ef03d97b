package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.gen.SyntheticBitacora
import graft.ops.Kpi
import graft.report.Report

/** CLI entry points mirroring the reference's run recipe
  * (/root/reference/README.md:100-137):
  *
  *   runMain graft.cli.GenerarDatos   --n_registros 500 --seed 42 --salida out/datos.jsonl
  *   runMain graft.cli.CalcularKpi    --input out/datos.jsonl --output out/kpi
  *   runMain graft.cli.GenerarReporte --input out/kpi --output out/report.html --umbral_p90 300
  */
object CliUtil {
  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Pin the JVM default locale to ROOT. The reference's Python
    * `f"{x:.2f}"` is locale-independent; the Scala f-interpolator in
    * Report/Charts is not — without the pin the report CLIs render
    * comma-decimal under a de_DE-style host locale. A PROCESS-WIDE
    * mutation, so it is called only from the CLI `main`s (which own
    * their process), never from [[session]] — a library/test caller
    * building a session must not have its process locale silently
    * changed (ADVICE r14). */
  def pinLocale(): Unit = java.util.Locale.setDefault(java.util.Locale.ROOT)

  /** The one session factory: every main (the CLI, Verify, Bench,
    * BenchStream, Explain, the tools) builds its session here, so the
    * bench and production cannot run different confs. The decision is
    * [[settings]] over the process environment. */
  def session(name: String): SparkSession = {
    val (master, conf) = settings(sys.env)
    SparkSession.builder().master(master).appName(name).config(conf).getOrCreate()
  }

  /** Cores for `local[n]` and the shuffle width: `SPARK_GRAFT_CPUS`,
    * else every core the JVM sees. */
  def cpus: String = cpusOf(sys.env)

  private def cpusOf(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Conf every session shares, the test session included. */
  def sharedConf(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // rank-filter pre-trim (WindowGroupLimit) for corpus-scale quotas:
    // the 1000-row default defeats it for any realistic target_n
    "spark.sql.optimizer.windowGroupLimitThreshold" -> "16777216",
    // Shuffle files are only deleted after their RDDs are GARBAGE
    // COLLECTED (ContextCleaner), and a big-heap JVM can run a 157-query
    // pass without a single full GC — Spark's 30min default let the r18
    // sf10 bench accumulate 63 GB of dead shuffle files and fill the
    // disk. 120s bounds the backlog to a few queries' worth; the GC runs
    // in the cleaner thread, off the queries' critical sections.
    "spark.cleaner.periodicGC.interval" -> "120s")

  private val LocalCluster =
    """local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*([0-9]+)\s*]""".r

  /** JDK17 module opens for executor JVMs: the same list build.sbt and
    * tools/run_main.sh give the driver. */
  private val ExecutorAddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** (master, conf) for a session from `env`: `SPARK_GRAFT_MASTER`, else
    * `local[cpus]`; the shared conf; `spark.jars` from `SPARK_GRAFT_JARS`.
    *
    * A `local-cluster[workers,coresPerWorker,memoryMbPerWorker]` master
    * runs real executor JVMs (VERDICT r14 #1): custom Catalyst
    * expressions, broadcasts, LoopCache pins and DSv2 readers all cross
    * a genuine serialization boundary. Its executors are launched by the
    * in-process Worker, so they need the driver's module opens and a heap
    * that fits the worker's slice — the spec's own `memoryMb`. Without
    * the packaged jar every task deserializes to ClassNotFoundException
    * on the executors, so a missing `SPARK_GRAFT_JARS` fails fast here
    * (ADVICE r15), as does a spec Spark would reject at start-up. */
  private[graft] def settings(env: Map[String, String]): (String, Map[String, String]) = {
    val cpus = cpusOf(env)
    val master = env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val jars = env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _).toMap
    val executor = master match {
      case LocalCluster(_, _, memoryMb) =>
        require(jars.nonEmpty,
          s"SPARK_GRAFT_MASTER=$master needs SPARK_GRAFT_JARS=<path to the " +
            "packaged graft jar> (sbt package) so executor JVMs can " +
            "deserialize graft classes")
        Map("spark.executor.extraJavaOptions" -> ExecutorAddOpens,
          "spark.executor.memory" -> s"${memoryMb}m")
      case _ if master.startsWith("local-cluster") =>
        throw new IllegalArgumentException(
          s"malformed SPARK_GRAFT_MASTER=$master: expected " +
            "local-cluster[workers,coresPerWorker,memoryMbPerWorker], " +
            "e.g. local-cluster[2,8,8192]")
      case _ => Map.empty[String, String]
    }
    (master, sharedConf(cpus) ++ jars ++ executor)
  }
}

/** Stage [1]: the reference's HTTP client run (http_client.py:199-211) —
  * the same eight tasks in the same order (the cookie round-trip depends on
  * session ordering) plus the three artifacts the reference persists:
  * pretty `datos.json`, raw `datos.xml`, extracted-title `titulo.html`.
  *
  *   runMain graft.cli.ClienteHttp --base_url https://httpbin.org --out out
  */
object ClienteHttp {
  import java.nio.file.Path
  import graft.sources.{HttpArtifacts, HttpIngest}

  def run(spark: SparkSession, baseUrl: String, outDir: Path): Unit = {
    // [1] basic auth — hard failure unless authenticated (http_client.py:80-88)
    val auth = HttpIngest.basicAuth(spark,
      s"$baseUrl/basic-auth/usuario_test/clave123", "usuario_test", "clave123")
      .collect().head
    require(auth.getAs[Int]("status_code") == 200 && auth.getAs[Boolean]("authenticated"),
      "Autenticación no exitosa: authenticated != true")
    println(s"[AUTH BASIC] OK: user=${auth.getAs[String]("user")}")

    // [2] cookie round-trip within one ordered session (http_client.py:91-103)
    val cookies = HttpIngest.cookieSession(spark,
      s"$baseUrl/cookies/set?session=activa", s"$baseUrl/cookies").collect()
    val sess = cookies.last.getAs[String]("session_cookie")
    require(sess == "activa", s"Cookie session no establecida correctamente. session=$sess")
    println(s"[COOKIES] OK: session=$sess")

    // [3] tolerated 403 — retried, logged, continue (http_client.py:106-115)
    val st = HttpIngest.tolerated403(spark, s"$baseUrl/status/403").collect().head
    println(s"[403] status final: ${st.getAs[Int]("status_code")} " +
      s"(${st.getAs[Int]("attempts")} intentos). Registrando evento y continuando...")

    // [4] /get JSON → pretty-printed datos.json (http_client.py:118-123)
    val getBody = HttpIngest.extractJson(spark, s"$baseUrl/get")
      .collect().head.getAs[String]("body")
    HttpArtifacts.writeText(outDir.resolve("datos.json"), HttpArtifacts.prettyJson(getBody))
    println(s"[JSON] Guardado en ${outDir.resolve("datos.json")}")

    // [5] /xml → raw body datos.xml + parsed slide summary (http_client.py:126-137)
    val xmlBody = HttpIngest.read(spark, Seq(s"$baseUrl/xml"), Map.empty)
      .collect().head.getAs[String]("body")
    HttpArtifacts.writeText(outDir.resolve("datos.xml"), xmlBody)
    val resumen = HttpIngest.xmlSlidesOfBody(spark, xmlBody).collect()
      .map(r => s"{type: ${r.getAs[String]("slide_type")}, title: ${r.getAs[String]("title")}}")
      .mkString(", ")
    println(s"[XML] Guardado en ${outDir.resolve("datos.xml")}; resumen slides: [$resumen]")

    // [6] /html → title → h1 → SIN_TITULO chain → titulo.html (http_client.py:150-169)
    val title = HttpIngest.extractHtmlTitle(spark, s"$baseUrl/html")
      .collect().head.getAs[String]("title")
    HttpArtifacts.writeText(outDir.resolve("titulo.html"), title)
    println(s"[HTML] Título extraído: $title")

    // [7] form POST echo (http_client.py:172-184)
    val form = HttpIngest.postForm(spark, s"$baseUrl/post", Seq(
      "nombre" -> "Juan", "apellido" -> "Pérez",
      "correo" -> "juan.perez@example.com",
      "mensaje" -> "Este es un mensaje de prueba.")).collect().head
    println(s"[POST] Respuesta form: ${form.getAs[String]("form_echo")}")

    // [8] redirect follow → final args (http_client.py:187-196)
    val red = HttpIngest.redirect(spark, s"$baseUrl/redirect-to?url=/get").collect().head
    println(s"[REDIRECT] status: ${red.getAs[Int]("status_code")}, " +
      s"args: ${red.getAs[String]("final_args")}")
  }

  def main(args: Array[String]): Unit = {
    CliUtil.pinLocale()
    val a = CliUtil.parseArgs(args)
    val spark = CliUtil.session("cliente_http")
    try run(spark,
      a.getOrElse("base_url", "https://httpbin.org"),
      Paths.get(a.getOrElse("out", "out")))
    finally spark.stop()
  }
}

/** Stage [2]: seeded synthetic bitácora → JSONL. */
object GenerarDatos {
  def main(args: Array[String]): Unit = {
    CliUtil.pinLocale()
    val a = CliUtil.parseArgs(args)
    val spark = CliUtil.session("generar_datos")
    try SyntheticBitacora.writeJsonl(
      SyntheticBitacora.generate(spark,
        n = a.getOrElse("n_registros", "500").toLong,
        seed = a.getOrElse("seed", "42").toLong,
        days = a.getOrElse("days", "3").toInt),
      a.getOrElse("salida", "out/datos_jsonl"),
      singleFile = true)
    finally spark.stop()
  }
}

/** Stage [3]: JSONL bitácora → sorted KPI CSV. */
object CalcularKpi {
  def main(args: Array[String]): Unit = {
    CliUtil.pinLocale()
    val a = CliUtil.parseArgs(args)
    val spark = CliUtil.session("calcular_kpi")
    try {
      val in = a.getOrElse("input", sys.error("--input required"))
      val out = a.getOrElse("output", sys.error("--output required"))
      Kpi.writeKpiCsv(Kpi.bitacoraKpi(Kpi.readBitacora(spark, in)), out)
    } finally spark.stop()
  }
}

/** Stage [4]: KPI CSV → HTML report + the two chart PNGs
  * (the reference's full artifact set, generar_reporte.py:263-292). */
object GenerarReporte {
  def main(args: Array[String]): Unit = {
    CliUtil.pinLocale()
    val a = CliUtil.parseArgs(args)
    val spark = CliUtil.session("generar_reporte")
    try {
      val in = a.getOrElse("input", sys.error("--input required"))
      val out = a.getOrElse("output", "out/report.html")
      val umbral = a.getOrElse("umbral_p90", "300").toDouble
      Report.writeReportArtifacts(Kpi.readKpiCsv(spark, in), umbral, Paths.get(out))
      println(s"[generar_reporte] wrote $out (+ ${Report.RequestsPngName}, ${Report.P90PngName})")
    } finally spark.stop()
  }
}
