package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities) by power iteration — the link-analysis
  * complement to PageRank: an authority is pointed at by good hubs, a
  * hub points at good authorities (Kleinberg 1999). Corpus pipelines
  * use the authority score as a crawl-frontier quality prior where
  * PageRank over-rewards link farms that only cite each other.
  *
  * Execution shape per half-step: scores (V rows) ⋈ edges (E rows) on
  * one endpoint, groupBy the other — the same one-E-shuffle +
  * one-V-aggregate cost model as [[PageRank]], so the loop survives a
  * web-scale edge list. The edge list is persisted PRE-PARTITIONED on
  * `src` once (the invariant side); the per-round exchange is only the
  * V-row score table. L1 normalization per half-step is a 1-row
  * aggregate crossed back via broadcast (the Collocations totals idiom
  * — no driver collect), keeping scores in a fixed numeric range so a
  * fixed iteration count is well-conditioned for the value-exact
  * oracle replay.
  *
  * Iteration count FIXED, not convergence-tested — deterministic
  * output, no per-round count() action, unrollable by the SQL oracle
  * (the PageRank lesson).
  */
object Hits {

  /** (node, authority, hub) after `iters` full rounds over a directed
    * (src, dst) edge list (weights ignored — classic HITS is
    * unweighted), starting from hub = 1 and L1-normalizing each
    * half-step. Nodes = union of endpoints; a node never cited keeps
    * authority 0, a node citing nothing keeps hub 0.
    *
    * The per-half-step L1 normalizations TELESCOPE: each is a scalar
    * divide, and every later half-step is linear in its input, so
    * normalized-every-step ≡ run-raw-then-normalize-once —
    * a2/Σa2 computed from the raw power iteration equals the
    * step-normalized a2 exactly (the factors cancel). Likewise the
    * zero-fill left-join onto the node table only matters for the
    * FINAL output (an absent node contributes nothing downstream).
    * So the loop body is ONE E-row join + ONE keyed aggregate per
    * half-step — the PageRank cost model — and the normalize pass,
    * the 1-row total cross, and the V-row zero-fill join are each
    * paid once at the end instead of per step. (First draft paid all
    * three per half-step: 14.0 s at sf0.1; this shape ~4 s.) */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the co-purchase fixture is already unique per direction; a
    // defensive distinct here would re-shuffle E rows for nothing
    val e = edges.select("src", "dst")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // raw power iteration, sparse frames (absent node = score 0)
      var hub = nodes.select(col("node"), lit(1.0).as("hub"))
      var auth: DataFrame = null
      for (i <- 1 to iters) {
        // cut lineage per round — the plan doubles otherwise. Each
        // half-step local-checkpoints (storage blocks; before r17 the
        // V-row score frame round-tripped through parquet files once
        // per half-step) and the previous half-step's blocks are
        // released as soon as the new one lands — scratch stays O(1)
        // frames. hub reads the already-materialized new auth. The
        // initial hub is never released: its plan reaches the
        // caller's edge frame, whose blocks are the caller's.
        val prevAuth = auth
        auth = e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum("hub").as("authority"))
          .localCheckpoint()
        if (i > 1) graft.core.Caching.releaseCheckpoint(prevAuth)
        val prevHub = hub
        hub = e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src").as("node"))
          .agg(sum("authority").as("hub"))
          .localCheckpoint()
        if (i > 1) graft.core.Caching.releaseCheckpoint(prevHub)
      }
      // one final L1 normalize each + the zero-fill onto the node set
      val totals = auth.agg(sum("authority").as("__ta"))
        .crossJoin(hub.agg(sum("hub").as("__th")))
      val result = nodes
        .join(auth, Seq("node"), "left")
        .join(hub, Seq("node"), "left")
        .crossJoin(broadcast(totals))
        .select(col("node"),
          (coalesce(col("authority"), lit(0.0)) / col("__ta"))
            .as("authority"),
          (coalesce(col("hub"), lit(0.0)) / col("__th")).as("hub"))
      // Checkpoint EAGERLY while e/nodes are still cached: the caller's
      // action runs after the finally-unpersist below, so a lazy result
      // would recompute the node set from the raw edge source — the
      // persists would have bought the final join nothing. The reap
      // fully consumed auth/hub, so their blocks are released here.
      val out = graft.core.Caching.reap(result)
      graft.core.Caching.releaseCheckpoint(auth)
      graft.core.Caching.releaseCheckpoint(hub)
      out
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }
}
