package graft.tools
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Tables, QueriesText}
import graft.cli.CliUtil
import graft.operators.Dedup
object ProfPrefix {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/scale10x")
    val spark = CliUtil.session("prof_prefix")
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime()-t0)/1e9}%7.2f s"); r
    }
    val docs = Tables.rebalance(Tables.documents(spark, sfDir))
      .select(col("doc_id"), Dedup.shingleArray(col("text"), 3).as("toks"))
    val tok = docs
      .select(col("doc_id").cast("long").as("id"), array_distinct(col("toks")).as("ts"))
      .select(col("id"), size(col("ts")).cast("long").as("n"), explode(col("ts")).as("tok"))
    // 1. raw shingle+explode cost, no persist
    time("explode count (no persist)")(println("  rows=" + tok.count()))
    // 2. persist cost
    tok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("persist materialize")(println("  rows=" + tok.count()))
    // 3. df agg off the cache
    val df = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    time("df agg (cached tok)")(println("  distinct toks=" + df.count()))
    // 4. prefix build
    val (tNum, tDen) = (80, 100)
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    val prefix = tok.join(df, "tok")
      .select(col("id"), col("tok"), col("n"), row_number().over(w).as("pos"))
      .filter(col("pos") <= col("n") - ((col("n") * tNum + tDen - 1) / tDen).cast("long") + 1L)
    prefix.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("prefix build+persist")(println("  prefix rows=" + prefix.count()))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("a.n") * tNum <= col("b.n") * tDen &&
          col("b.n") * tNum <= col("a.n") * tDen)
      .select(col("a.id").as("a"), col("a.n").as("na"), col("b.id").as("b"), col("b.n").as("nb"))
      .distinct()
    cand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("candidates")(println("  cand rows=" + cand.count()))
    val out = cand
      .join(tok.select(col("id").as("a"), col("tok")), "a")
      .join(tok.select(col("id").as("b"), col("tok")), Seq("b", "tok"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter_sz"))
      .filter(col("inter_sz") * tDen >= (col("na") + col("nb") - col("inter_sz")) * tNum)
    time("verify")(println("  pairs=" + out.count()))
    spark.stop()
  }
}
