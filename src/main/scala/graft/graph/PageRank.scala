package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weighted PageRank by power iteration — the web-graph centrality
  * signal corpus pipelines use as a document-quality prior (rank of
  * the page a document was crawled from), here over any (src, dst, w)
  * edge list.
  *
  * Execution shape per iteration: ranks (V rows) ⋈ edges (E rows) on
  * src, then a groupBy(dst) sum — both partial-aggregable, both
  * shuffling on the same key stream. The edge list with precomputed
  * transition probabilities is persisted ONCE and reused by every
  * iteration (it is the invariant side of the loop); only the V-row
  * rank table changes per round. That is the GraphX/Pregel cost model
  * without leaving DataFrames: per iteration one E-shuffle + one
  * V-aggregate, nothing driver-side, nothing ∝ V² — the loop survives
  * a web-scale edge list as long as E fits the cluster's shuffle tier.
  *
  * Iteration count is FIXED (not convergence-tested): deterministic
  * output, no extra count() action per round (the lesson from
  * dedup/Clusters r7), and replayable by the unrolled SQL oracle.
  */
object PageRank {

  /** Ranks after `iters` rounds of r' = reset + damping · Σ_in r·p,
    * starting from r = 1. `edges` must carry (src, dst, w); transition
    * probability is w normalized by src's total out-weight. Nodes are
    * the union of srcs and dsts; a node with no in-edges keeps the
    * reset mass. Output: (node, rank). */
  def run(edges: DataFrame, iters: Int,
          damping: Double = 0.85, reset: Double = 0.15): DataFrame =
    powerIterate(edges, nodesOf(edges), lit(1.0), lit(reset), iters, damping)

  /** Personalized PageRank: teleport mass returns only to the SEED
    * set (r' = reset·1{seed} + damping·Σ_in r·p, r₀ = 1{seed}) — the
    * recommender/expansion form ("what is close to THESE nodes").
    * Identical per-iteration cost model to [[run]] (one E-shuffle +
    * one V-aggregate; the transition matrix is persisted once); the
    * seed indicator is a broadcast join onto the V-row node table, so
    * personalization adds nothing fact-sized. Seeds absent from the
    * graph contribute nothing (inner-join semantics on the node set). */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                      damping: Double = 0.85, reset: Double = 0.15)
      : DataFrame = {
    val nodes = nodesOf(edges)
      .join(broadcast(seeds.select(col("node"), lit(1.0).as("is_seed"))),
        Seq("node"), "left")
      .na.fill(0.0, Seq("is_seed"))
    powerIterate(edges, nodes, col("is_seed"), lit(reset) * col("is_seed"),
      iters, damping)
  }

  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()

  /** The power iteration both entry points share: ranks start at
    * `rank0` and each round sets r' = teleport + damping · Σ_in r·p,
    * both evaluated against the `nodes` table. */
  private def powerIterate(edges: DataFrame, nodes: DataFrame, rank0: Column,
                           teleport: Column, iters: Int, damping: Double)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val outw = edges.groupBy("src").agg(sum("w").as("tw"))
    // persisted PRE-PARTITIONED on src: the per-iteration join's
    // requirement is hash(src), but the build join leaves the frame
    // partitioned however the upstream groupBy keyed it — without the
    // repartition, EVERY round re-exchanges the E-row side (measured
    // 2.4M-row re-shuffle × iters at sf0.1; with it, only the V-row
    // rank table moves per round and the E-row exchange is paid once)
    val trans = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("tw")).as("p"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      graft.core.Caching.iterate(
          nodes.select(col("node"), rank0.as("rank")), iters) { (ranks, _) =>
        val contrib = trans.join(ranks, trans("src") === ranks("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") * col("p")).as("inflow"))
        nodes
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            (teleport + lit(damping) * coalesce(col("inflow"), lit(0.0)))
              .as("rank"))
      }
    } finally {
      trans.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }
}
