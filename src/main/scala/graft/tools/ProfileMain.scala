package graft.tools

import org.apache.spark.sql.functions._
import graft.{Queries, Tables}
import graft.cli.CliUtil
import graft.operators.Dedup

/** Scratch stage-level profiler for bench hotspots (not part of the driver
  * contract; run manually: `sbt "runMain graft.tools.ProfileMain <sfDir>"`). */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = CliUtil.session("profile_main")
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warmup
    Tables.documents(spark, "/root/testdata/sf0.001").count()

    val docs = Tables.documents(spark, sfDir)
    val sigs = time("minHashSignatures materialize") {
      val s = Dedup.minHashSignatures(docs, "doc_id", "text").localCheckpoint()
      s.count()
      s
    }
    val buckets = time("band explode + bucket hash") {
      val numPerm = 64; val bands = 16; val rows = numPerm / bands
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
      }
      val bk = sigs.select(col("doc_id").as("id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("id"), col("bb.band"), col("bb.bucket")).localCheckpoint()
      println("  bucket rows: " + bk.count())
      bk
    }
    time("bucket size distribution") {
      buckets.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("buckets"))
        .orderBy(col("n").desc).show(10, false)
    }
    val grouped = time("groupBy collect_list + size filter") {
      val g = buckets.groupBy(col("band"), col("bucket"))
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")).between(2, 200))
        .localCheckpoint()
      println("  usable buckets: " + g.count())
      g
    }
    time("combos explode + distinct") {
      val ids = sort_array(col("ids"))
      val combos = flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + 2, size(ids)),
          y => struct(x.as("id_a"), y.as("id_b")))))
      val n = grouped.select(explode(combos).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct().count()
      println("  distinct pairs: " + n)
    }
    time("full q32 (current impl)") {
      graft.QueriesText.minhashPairs(spark, sfDir).write
        .format("noop").mode("overwrite").save()
    }
    // --- q44 stages: verified pairs + connected components ---
    val pairs = time("q44 pairs >= 0.7 (materialize)") {
      val p = Dedup.lshCandidatePairs(
          Dedup.minHashSignatures(docs, "doc_id", "text"), "doc_id")
        .filter(col("est_jaccard") >= 0.7).localCheckpoint()
      println("  verified pairs: " + p.count())
      p
    }
    time("q44 connected components + cluster agg") {
      graft.operators.ConnectedComponents.dedupClusters(pairs, "id_a", "id_b")
        .groupBy(col("representative"))
        .agg(count(lit(1)).as("cluster_size"))
        .write.format("noop").mode("overwrite").save()
    }
    time("full q44 (current impl)") {
      graft.QueriesText.dedupClusters(spark, sfDir).write
        .format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
