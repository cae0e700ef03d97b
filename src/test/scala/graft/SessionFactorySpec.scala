package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.CliUtil

/** `CliUtil.session` is the one session factory: every main takes its
  * master and conf from it, and the test session takes everything but
  * its master from it. */
class SessionFactorySpec extends AnyFunSuite {

  test("CliUtil.session carries the shared conf, shuffle width = cpus") {
    val shared = SparkTestSession.spark
    // Only one SparkContext per JVM: with the default session cleared,
    // the factory builds a NEW session on the shared context, whose SQL
    // conf is the factory's own options.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try CliUtil.session("session_factory_spec") finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s ne shared)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.ui.enabled") == "false")
    assert(s.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == "16777216")
    assert(s.conf.get("spark.cleaner.periodicGC.interval") == "120s")
    assert(s.conf.get("spark.sql.shuffle.partitions") == CliUtil.cpus)
    // and the test session's context was built from the same shared conf
    val ctx = shared.sparkContext.getConf
    CliUtil.sharedConf("4").foreach { case (k, v) => assert(ctx.get(k) == v, k) }
  }

  test("settings: master and cpus come from the environment") {
    val (local, conf) = CliUtil.settings(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(local == "local[3]")
    assert(conf == CliUtil.sharedConf("3"))
    assert(conf("spark.sql.shuffle.partitions") == "3")
    val cores = Runtime.getRuntime.availableProcessors.toString
    assert(CliUtil.settings(Map.empty)._1 == s"local[$cores]")
    val (m, withJars) = CliUtil.settings(Map(
      "SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_JARS" -> "/x/graft.jar"))
    assert(m == "local[2]")
    assert(withJars("spark.jars") == "/x/graft.jar")
    assert(!withJars.contains("spark.executor.memory"))
  }

  test("settings: local-cluster executor memory is the spec's memoryMb") {
    val (m, conf) = CliUtil.settings(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,8,8192]",
      "SPARK_GRAFT_JARS" -> "/x/graft.jar"))
    assert(m == "local-cluster[2,8,8192]")
    assert(conf("spark.executor.memory") == "8192m")
    assert(conf("spark.jars") == "/x/graft.jar")
    assert(conf("spark.executor.extraJavaOptions")
      .contains("--add-opens java.base/sun.nio.ch=ALL-UNNAMED"))
    // Spark's own spec grammar allows blanks around the fields
    assert(CliUtil.settings(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[ 2, 16, 16384 ]",
      "SPARK_GRAFT_JARS" -> "/x/graft.jar"))._2("spark.executor.memory") == "16384m")
  }

  test("settings: a malformed local-cluster spec or a missing jar is rejected") {
    Seq("local-cluster[2,8]", "local-cluster[2,8,8g]", "local-cluster").foreach { spec =>
      val e = intercept[IllegalArgumentException] {
        CliUtil.settings(Map("SPARK_GRAFT_MASTER" -> spec, "SPARK_GRAFT_JARS" -> "/x.jar"))
      }
      assert(e.getMessage.contains(s"malformed SPARK_GRAFT_MASTER=$spec"), e.getMessage)
      assert(e.getMessage.contains("local-cluster[workers,coresPerWorker,memoryMbPerWorker]"))
    }
    val e = intercept[IllegalArgumentException] {
      CliUtil.settings(Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,8,8192]"))
    }
    assert(e.getMessage.contains("needs SPARK_GRAFT_JARS"), e.getMessage)
  }

  test("SparkSession builders exist only in the factory and SparkTestSession") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from the working directory"))
    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val sites = roots.flatMap(scalaFiles).flatMap { f =>
      val n = Pattern.quote(needle).r.findAllMatchIn(Files.readString(f)).size
      if (n > 0) Some(f.toString -> n) else None
    }.toMap
    assert(sites == Map(
      "src/main/scala/graft/cli/Mains.scala" -> 1,
      "src/test/scala/graft/KpiSpec.scala" -> 1), sites)
  }
}
