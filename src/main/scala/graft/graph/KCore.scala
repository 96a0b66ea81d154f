package graft.graph

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterated k-core peeling — the standard dense-subgraph filter (link
  * spam and scraper-ring detection on crawl graphs: low-core nodes are
  * the long tail, the surviving core is the tightly-linked cluster
  * worth inspecting).
  *
  * One peel round: drop every node whose CURRENT degree is below `k`,
  * then drop the edges that lost an endpoint. The full k-core is this
  * round iterated to fixpoint; [[peelRounds]] runs a FIXED number of
  * rounds instead — deterministic output replayable by an unrolled
  * SQL oracle, no data-dependent convergence action per round (the
  * PageRank fixed-iteration lesson), and on heavy-tailed graphs the
  * first few rounds remove nearly everything the fixpoint would.
  *
  * The survivor sets are NESTED (K_r ⊆ K_{r-1}: a node's degree can
  * only fall as rounds remove edges), so round r's edge set is
  * E_r = E_0 ∩ (K_r × K_r) and the loop carries node sets only. E_0
  * is the one edge-sized materialization; each round is ONE action —
  * E_0 semi-joined on both endpoints against K_{r-1}, one degree
  * aggregation, the `d >= k` filter, and an eager local checkpoint of
  * the V-sized K_r, which also keeps every round's logical plan at
  * constant depth (a persist caches data but not plans; ProfileGate
  * once measured plan re-optimization at ~40% of this gate's sf0.1
  * wall). The round's statistics ride that action as `observe`
  * metrics instead of separate count jobs.
  */
object KCore {

  /** Surviving-node sets at or below this row count are broadcast into
    * the per-round semi-joins (ids only — 4M longs ≈ 32 MB on an 8 g+
    * driver); larger sets fall back to the shuffled semi-join. The
    * count is EXACT (it is the n_nodes statistic the gate outputs
    * anyway), so the strategy choice is data-adaptive, not a local-mode
    * constant: a 100 TB crawl graph whose survivor set no longer fits
    * simply takes the shuffle path. */
  val BroadcastNodeCap: Long = 4000000L

  /** Per-round survival statistics for `rounds` peels at threshold
    * `k` over an undirected edge list of CANONICAL (a, b) pairs: `a < b`,
    * no null endpoint, no pair twice ([[Undirected.canonical]] makes any
    * pair list so). E_0 is the input as given, checkpointed by one job
    * with no exchange; that job also counts the rows with `a >= b` or a
    * null endpoint, and any such row throws `IllegalArgumentException`.
    * Duplicates are the caller's to remove: seeing them takes a
    * shuffle. Output: (round, n_nodes, n_edges) where n_nodes counts
    * nodes meeting the threshold that round and n_edges the edges with
    * both endpoints surviving. */
  def peelRounds(pairs: DataFrame, k: Int, rounds: Int,
                 broadcastCap: Long = BroadcastNodeCap): DataFrame = {
    val spark = pairs.sparkSession
    // checkpointed even when `pairs` is a parquet scan: re-reading it
    // every round read 4x the bytes and was slower (graph_kcore, sf0.1)
    val badObs = Observation()
    val e0 = pairs.select("a", "b")
      .observe(badObs, count(when(col("a").isNull || col("b").isNull ||
        col("a") >= col("b"), 1)).as("n"))
      .localCheckpoint()
    // E_0 restricted to both endpoints in `keep` (None: every node, the
    // survivor set before round 1). Broadcasting the survivor set makes
    // both semi-joins map-side hash probes, leaving the degree
    // aggregation the only exchange per round.
    def within(keep: Option[(DataFrame, Long)]): DataFrame = keep.fold(e0) {
      case (ids, n) =>
        val j = if (n <= broadcastCap) broadcast(ids) else ids
        e0.join(j.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(j.select(col("id").as("b")), Seq("b"), "left_semi")
    }
    // unnamed Observations get unique names: concurrent calls on one
    // session (Verify's FAIR pools) never read each other's metrics.
    // A subtree that AQE proves empty (a semi-join against an empty
    // survivor set) never runs and reports no metric: zero rows.
    def rows(o: Observation): Long = o.get.getOrElse("n", 0L).asInstanceOf[Long]
    val bad = rows(badObs)
    if (bad > 0) {
      graft.core.Caching.releaseCheckpoint(e0)
      throw new IllegalArgumentException(s"peelRounds needs canonical pairs " +
        s"(a < b, no null endpoint): $bad rows are not; see " +
        "Undirected.canonical")
    }
    var keep = Option.empty[(DataFrame, Long)]
    val counts = (1 to rounds).map { _ =>
      val edgeObs = Observation()
      val nodeObs = Observation()
      val next = within(keep)
        .observe(edgeObs, count(lit(1)).as("n"))
        .select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("id")
        .observe(nodeObs, count(lit(1)).as("n"))
        .localCheckpoint()
      // E_{r-1}'s edge count is the rows the round's semi-joins kept
      val prevEdges = rows(edgeObs)
      val nNodes = rows(nodeObs)
      // releaseCheckpoint, NOT Dataset.unpersist: checkpoint blocks
      // live on the RDD, which unpersist misses
      keep.foreach(p => graft.core.Caching.releaseCheckpoint(p._1))
      keep = Some((next, nNodes))
      (prevEdges, nNodes)
    }
    val lastEdges = if (rounds > 0) Seq(within(keep).count()) else Nil
    keep.foreach(p => graft.core.Caching.releaseCheckpoint(p._1))
    graft.core.Caching.releaseCheckpoint(e0)
    val nEdges = counts.drop(1).map(_._1) ++ lastEdges
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("n_nodes", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(counts.map(_._2).zip(nEdges).zipWithIndex.map {
      case ((n, e), i) => Row(i + 1, n, e)
    }.asJava, schema)
  }
}
