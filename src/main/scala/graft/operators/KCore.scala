package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

/** k-core decomposition by parallel peeling: repeatedly drop nodes whose
  * degree in the surviving induced subgraph falls below the threshold.
  * After enough rounds the survivor set is THE k-core (the maximal
  * subgraph where every node has ≥ k neighbors inside it); a bounded
  * round count makes the operator deterministic and oracle-replayable
  * (unrolled CTEs), matching the fixed-round contract of Bfs/PageRank.
  *
  * All-integer state (node ids + degree counts), so results are
  * bit-reproducible regardless of partitioning or cluster size.
  *
  * Scale shape: each round is two semi-joins of the edge table against
  * the (much smaller) survivor set plus one src-keyed count — edge-sized
  * work per round, shrinking as peeling bites. The threshold is either a
  * fixed k or derived from the SAME cached edge table as the rounds
  * (num·meanDegree/den, exact integer division) — deriving it from a
  * separately-built plan would re-run the whole edge build once per
  * round when each round is forced, the q118 lesson: 25.6 s → 7 s cold
  * at sf0.1 by threading the threshold through the cache.
  */
object KCore {

  /** Survivor table (id, degree) after `rounds` peels at fixed
    * threshold `k`. `edges` must be symmetric (both directions present)
    * — degree is counted on the src side only, the co-purchase-graph
    * convention ([[graft.Tables]]). */
  def survivors(edges: DataFrame, srcCol: String, dstCol: String,
      k: Long, rounds: Int): DataFrame =
    run(edges, srcCol, dstCol, rounds, Seq("k", k),
      deg0 => deg0.sparkSession.range(1).select(lit(k).cast("long").as("k")))

  /** Survivors at the scale-adaptive threshold k = num·(mean degree)/den
    * (truncating integer division — replayable in any engine). The mean
    * is computed over the operator's own cached edge table, so the
    * derivation costs one pass over the cache, not a second edge
    * build. */
  def survivorsAtMeanFraction(edges: DataFrame, srcCol: String,
      dstCol: String, num: Long, den: Long, rounds: Int): DataFrame =
    run(edges, srcCol, dstCol, rounds, Seq("frac", num, den),
      deg0 => deg0.agg(expr(
        s"CAST(sum(degree) * $num DIV (count(1) * $den) AS BIGINT)").as("k")))

  /** [[survivors]] over a STAGED symmetric adjacency (src, outdeg,
    * sorted dsts): see [[runAdj]] for why the edge-layout twin stops
    * scaling past ~1M nodes. */
  def survivorsAdj(adj: DataFrame, k: Long, rounds: Int): DataFrame =
    runAdj(adj, rounds, Seq("k", k),
      d0 => d0.sparkSession.range(1).select(lit(k).cast("long").as("k")))

  /** [[survivorsAtMeanFraction]] over the staged symmetric adjacency —
    * identical integer threshold arithmetic (round-0 degrees are the
    * staged outdeg column). */
  def survivorsAtMeanFractionAdj(adj: DataFrame, num: Long, den: Long,
      rounds: Int): DataFrame =
    runAdj(adj, rounds, Seq("frac", num, den), deg0 => deg0.agg(expr(
      s"CAST(sum(degree) * $num DIV (count(1) * $den) AS BIGINT)").as("k")))

  /** Adjacency-layout peeling — the round-13 sf10 probe found the
    * edge-layout [[run]] going SUPRALINEAR at 100× the bench corpus
    * (5.4 s at 2.4M edges → ~102 s at 239M, 19× for 10× data): its
    * per-round dst-side alive semi-join relies on the alive set
    * broadcasting, and once 2M node ids exceed the static broadcast
    * estimate (AQE is off inside loops) the planner re-shuffles and
    * re-sorts the FULL symmetric edge table per round. Here the rounds
    * take the [[PageRank.fixedPointAdj]] shape instead: the adjacency is
    * hash-partitioned + sorted once and never moves; per round the
    * node-sized alive table joins it co-partitioned, the edge fanout
    * happens inside a codegen'd explode feeding a partial aggregate
    * (alive-neighbor counts), and the both-endpoints-alive rule is a
    * co-partitioned node-sized semi-join — so a round's only exchange
    * is node-sized, at the loop-tuned width, with NO broadcast anywhere.
    *
    * Correctness is the same induced-subgraph degree: on a SYMMETRIC
    * adjacency, u's degree among alive nodes = the number of alive
    * sources v whose neighbor lists contain u, intersected with u's own
    * aliveness. Identical integers to [[run]] (KernelSpec pins the
    * equality). */
  private def runAdj(adj: DataFrame, rounds: Int, keyTag: Seq[Any],
      threshold: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val a0 = adj.select(col("src").cast("long").as("src"),
      col("outdeg").cast("long").as("outdeg"),
      col("dsts").cast("array<long>").as("dsts"))
    val w = LoopCache.loopWidth(adj.sparkSession, LoopCache.pinnedRow(
      a0.agg(coalesce(sum(col("outdeg")), lit(0L)))).getLong(0))
    val aT = LoopCache.tunedInputs(w, a0).head
    val a = aT.repartition(w, col("src")).sortWithinPartitions("src")
    // DEEP-ROUNDS SAFE (round 14, the Bfs/ShortestPath pattern): each
    // round is pinned AND re-rooted, so the SQL plan never nests across
    // rounds — the previous plan-identity warm probe kept full nesting
    // and its planning cost blew up superlinearly past ~10 rounds
    // (SCALE.md "Round 14 — k-core deep-rounds boundary": rounds=20
    // pinned a driver core for 30+ min of pure Catalyst work). A deep
    // peel is a legitimate ask (a high-layering graph peels one layer
    // per round), so the threshold parameters ride the memo key
    // (`keyTag`) in place of plan identity; warm re-invocations return
    // the memoized final. RDD lineage is kept
    // (reRoot, not localCheckpoint) — eviction recomputes.
    LoopCache.untuned(LoopCache.memo(
      Seq("kcore-adj", LoopCache.planKey(a), rounds) ++ keyTag) {
      a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // round 0: every node with its full-graph degree — a projection of
      // the staged layout, no aggregate at all (the adjacency already
      // carries outdeg)
      var alivePinned = LoopCache.step(
        a.select(col("src").as("id"), col("outdeg").as("degree")),
        a.limit(0))
      var alive = SqlBridge.reRoot(alivePinned)
      // same pinned-threshold protocol as [[run]]
      val kdfF = threshold(alive)
      kdfF.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kdfF.head()
      val kdf = broadcast(kdfF)
      for (_ <- 1 to rounds) {
        val contrib = a.join(alive.select(col("id")), col("src") === col("id"))
          .select(explode(col("dsts")).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        val next = contrib
          .join(alive.select(col("id")), Seq("id"), "left_semi")
          .crossJoin(kdf).filter(col("degree") >= col("k"))
          .select(col("id"), col("degree"))
        alivePinned = LoopCache.step(next, alivePinned)
        alive = SqlBridge.reRoot(alivePinned)
      }
      kdfF.unpersist(blocking = false)
      a.unpersist(blocking = false)
      alive
    })
  }

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, keyTag: Seq[Any],
      threshold: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    // src-partitioned once: the survivor sets broadcast (node-sized), so
    // broadcast semi-joins preserve the partitioning and every round's
    // degree count aggregates WITHOUT an exchange — one upfront shuffle
    // buys zero shuffles per round (the Bfs.levels layout)
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // loop-tuned width + static rounds (see LoopCache.loopSession); the
    // volume pass is a count over the staged edge scan, pinned for warm
    val w = LoopCache.loopWidth(edges.sparkSession,
      LoopCache.pinnedRow(e0.agg(count(lit(1)))).getLong(0))
    val e = LoopCache.tunedInputs(w, e0).head
      .repartition(w, col("src")).sortWithinPartitions("src")
    // DEEP-ROUNDS SAFE (round 16): each round pinned AND re-rooted, like
    // [[runAdj]] — the previous plan-identity probe kept full plan
    // nesting, whose Catalyst planning cost grows superlinearly past ~10
    // rounds (SCALE.md "Round 14 — k-core deep-rounds boundary"). The
    // threshold parameters ride the memo key (`keyTag`) in place of plan
    // identity; warm re-invocations return the memoized final.
    LoopCache.untuned(LoopCache.memo(
      Seq("kcore-edge", LoopCache.planKey(e), rounds) ++ keyTag) {
      e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // round 0: every node, with its full-graph degree (symmetric edges
      // ⇒ every node appears as a src). Pinned like any other round —
      // it is referenced by round 1's two semi-joins AND by the
      // threshold aggregate.
      var alivePinned = LoopCache.step(
        e.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree")),
        e.limit(0))
      var alive = SqlBridge.reRoot(alivePinned)
      // one row; broadcast so the per-round filter is a map-side compare.
      // Pinned + forced while round 0 is still live, so the derivation
      // reads its cache instead of re-running the full-graph degree
      // aggregate from lineage once per round.
      val kdfF = threshold(alive)
      kdfF.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kdfF.head()
      val kdf = broadcast(kdfF)
      for (_ <- 1 to rounds) {
        val ids = alive.select(col("id"))
        val next = e
          .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
          .crossJoin(kdf).filter(col("degree") >= col("k"))
          .select(col("id"), col("degree"))
        alivePinned = LoopCache.step(next, alivePinned)
        alive = SqlBridge.reRoot(alivePinned)
      }
      // final survivors were pinned by the last step — the threshold row
      // and the edge anchor are no longer load-bearing
      kdfF.unpersist(blocking = false)
      e.unpersist(blocking = false)
      alive
    })
  }
}
