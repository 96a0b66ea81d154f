package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * Shape per round: one degree aggregation + two semi-joins of the
  * edge list against the surviving-node set — all keyed shuffles on
  * node ids, edge-set-sized, shrinking monotonically. Each round's
  * edge frame is EAGERLY local-checkpointed so every level
  * materializes exactly once AND the logical plan stays constant-depth
  * across rounds (a persist caches data but not plans — the round-r
  * action otherwise re-optimizes the whole chain below it, which
  * ProfileGate measured as ~40% of the gate's wall at sf0.1).
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
    * `k` over an edge list given as (a, b) pairs (direction/dups
    * ignored, self-loops dropped). Output: (round, n_nodes, n_edges)
    * where n_nodes counts nodes meeting the threshold that round and
    * n_edges the edges with both endpoints surviving. */
  def peelRounds(pairs: DataFrame, k: Int, rounds: Int,
                 broadcastCap: Long = BroadcastNodeCap): DataFrame = {
    val spark = pairs.sparkSession
    // localCheckpoint (eager) instead of persist: the blocks are the
    // same MEMORY_AND_DISK cache, but the LOGICAL plan is truncated to
    // the materialized RDD — r16 ProfileGate measured ~40% of this
    // gate's sf0.1 wall in between-job driver gaps, i.e. Catalyst
    // re-analyzing a lineage that grew by two joins + an aggregation
    // PER ROUND (persist caches data, not plans). With the truncation
    // every round plans against a constant-depth tree. Stats are
    // collected eagerly per round (the blocks are already materialized,
    // so the counts are block-metadata scans) and the result is rebuilt
    // from literals — which also lets every intermediate be released
    // the moment its round ends instead of at the final collect.
    var edges = pairs
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val stats = (1 to rounds).map { r =>
      val deg = edges.select(col("a").as("id"))
        .unionAll(edges.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      // keep feeds THREE consumers (both semi-joins + the n_nodes
      // stat); the eager checkpoint materializes the E-row degree
      // aggregation exactly once (r16: ~0.3 s × 2 extra × rounds when
      // un-persisted).
      val keep = deg.where(col("d") >= k).select("id").localCheckpoint()
      // n_nodes is needed as output anyway; the EXACT count picks the
      // semi-join strategy. Broadcasting the V-row survivor set turns
      // BOTH per-round semi-joins from E-sized shuffles into map-side
      // hash probes — the degree aggregation becomes the only exchange
      // per round (3 exchanges/round -> 1).
      val nNodes = keep.count()
      val keepJ = if (nNodes <= broadcastCap) broadcast(keep) else keep
      val next = edges
        .join(keepJ.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keepJ.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val nEdges = next.count()
      // this round's inputs are fully consumed (next is materialized);
      // release them now — the lineage is truncated, so nothing can
      // ever recompute through these frames again. releaseCheckpoint,
      // NOT Dataset.unpersist: checkpoint blocks live on the RDD, which
      // unpersist misses (Caching.releaseCheckpoint doc).
      graft.core.Caching.releaseCheckpoint(edges)
      graft.core.Caching.releaseCheckpoint(keep)
      edges = next
      (r, nNodes, nEdges)
    }
    graft.core.Caching.releaseCheckpoint(edges)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("n_nodes", LongType, nullable = false),
      StructField("n_edges", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      stats.map { case (r, n, e) => Row(r, n, e) }.asJava, schema)
  }
}
