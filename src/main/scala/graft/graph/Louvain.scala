package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Louvain community detection (Blondel et al. 2008), Spark-shaped:
  * a synchronous modularity-greedy sweep plus the phase-2 community
  * CONTRACTION that makes it multi-level. With every community a
  * singleton, the gain of moving node i into neighbor j's community
  * reduces to the closed form
  *
  *   ΔQ(i→j) = w_ij/m − k_i·k_j/(2m²)
  *
  * (k = weighted degree, m = total undirected weight), so one sweep
  * is: every node adopts the POSITIVE-gain argmax neighbor
  * simultaneously, ties broken by the smaller neighbor id — the
  * synchronous total-order discipline that makes the sweep
  * oracle-replayable, exactly the LabelProp rationale (the classic
  * asynchronous sweep is visit-order-dependent and unverifiable).
  *
  * Synchronous-adoption artifacts, and what the sweep does about them
  * (r15 advice): (1) two nodes can adopt EACH OTHER (equal-weight
  * clique: 1→2 while 2,3,4→1); left unresolved the mutual pair lands
  * in two different output communities forever — contraction preserves
  * a symmetric 2-super-node swap at every level — so the sweep
  * resolves mutual pairs to community = min(node, adopted), mirrored
  * in the oracle. (2) a node adopting j receives j's PRE-sweep label
  * even when j itself moved (chain i→j→k): deterministic, replayable,
  * and healed by the next level's contraction sweep — this one is the
  * documented semantics, not resolved, because resolving chains is
  * iterative (it IS the next level).
  *
  * Execution shape: degrees are ONE keyed aggregation of the edge
  * list; the gain table is the edge list joined twice to the V-row
  * degree table (keyed equi-joins); the per-node argmax is a
  * max(struct) aggregation (partial, map-side — no window, no sort);
  * the mutual-pair resolution is one V-row self-join; the modularity
  * audit is two more keyed aggregations (intra-weight per community
  * via an assignment join, degree mass per community); contraction is
  * the edge list joined twice to the V-row assignment then one keyed
  * re-aggregation to the super-edge list. Nothing is ∝ V² and nothing
  * sorts the edge list at any scale.
  */
object Louvain {

  /** Community assignment after one synchronous singleton sweep over
    * a SYMMETRIC weighted edge list (both directions present).
    * Output: (node, community) — community is the ORIGINAL id of the
    * adopted neighbor (mutual adoptions collapsed to the smaller id;
    * the node itself when no positive gain). Self-loops (present in
    * CONTRACTED graphs: a community's internal weight) count toward
    * degrees and m but are never adoption candidates, and a node
    * whose only edges are self-loops keeps its own community.
    * Gains are rounded to 8 dp before the argmax so engines agree.
    *
    * EAGER: the returned assignment is reaped (materialized to scratch
    * files) so the operator's own V-row persists (deg, adoptAll) can
    * be released before returning instead of leaking into the session
    * (r16 ADVICE: Bench clearCaches between gates but Verify does
    * not). Callers that need the assignment multiple times read the
    * files; release via [[graft.core.Caching.release]] when done. */
  def sweep(edges: DataFrame): DataFrame = {
    // deg is consumed FOUR times (m, the ki/kj gain joins, the
    // self-loop-only fill); un-persisted each consumer re-aggregates
    // the E-row edge list (r16 profile: ~0.6 s per re-agg at sf0.1 on
    // the 2.4M-edge co-purchase graph). V-row cache, released by the
    // reap below once the assignment lands.
    val deg = edges.groupBy(col("src").as("node"))
      .agg(sum("w").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = deg.agg((sum("k") / 2.0).as("m"))
    val gains = edges
      .where(col("src") =!= col("dst"))
      .join(deg.select(col("node").as("src"), col("k").as("ki")), "src")
      .join(deg.select(col("node").as("dst"), col("k").as("kj")), "dst")
      .crossJoin(broadcast(m))
      .select(col("src"),
        col("dst"),
        round(col("w") / col("m")
          - (col("ki") * col("kj")) / (lit(2.0) * col("m") * col("m")), 8)
          .as("gain"))
    // argmax as max(struct(gain, -dst)): partial-aggregable, ties to
    // the smallest neighbor id (the Ivf.assign discipline)
    val adopt = gains.groupBy("src")
      .agg(max(struct(col("gain"), (-col("dst")).as("nd"))).as("b"))
      .select(col("src").as("node"),
        when(col("b.gain") > 0, -col("b.nd")).otherwise(col("src"))
          .as("adopt"))
    // self-loop-only nodes have no gain rows; they keep themselves.
    // adoptAll feeds BOTH sides of the mutual-resolution self-join —
    // persisted so the E-row gain argmax underneath runs once, not
    // twice (same doctrine as deg above).
    val adoptAll = deg.select(col("node"))
      .join(adopt, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("adopt"), col("node")).as("adopt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // mutual-adoption resolution: i⇄j collapse to min(i, j). The
    // adopted target is always a node of the graph, so the self-join
    // is total (inner).
    val back = adoptAll
      .select(col("node").as("adopt"), col("adopt").as("adopt2"))
    graft.core.Caching.reap(
      adoptAll.join(back, "adopt")
        .select(col("node"),
          when(col("adopt2") === col("node") && col("adopt") =!= col("node"),
            least(col("node"), col("adopt")))
            .otherwise(col("adopt")).as("community")),
      deg, adoptAll)
  }

  /** Phase-2 contraction: collapse each community to a super-node.
    * Intra-community weight becomes a self-loop (both directions
    * folded into one (c, c) row), so super-degrees satisfy
    * k_c = Σ_{i∈c} k_i and m is preserved — the invariants the next
    * [[sweep]]'s gain form needs. Two keyed joins of the edge list to
    * the V-row assignment, one keyed re-aggregation; the output is
    * at most min(E, C²) rows and shrinks geometrically per level. */
  def contract(edges: DataFrame, assign: DataFrame): DataFrame =
    edges
      .join(assign.select(col("node").as("src"), col("community").as("cs")),
        "src")
      .join(assign.select(col("node").as("dst"), col("community").as("cd")),
        "dst")
      .groupBy(col("cs").as("src"), col("cd").as("dst"))
      .agg(sum("w").as("w"))

  /** Multi-level Louvain: sweep → contract → sweep …, `levels` times,
    * returning the COMPOSED assignment (node → final community) over
    * the original node set. Each level contracts the ORIGINAL edge
    * list by the current composed assignment (associativity of the
    * weight sum makes this identical to contracting the contracted
    * graph) so scratch stays O(1) spill dirs (each level's spill is
    * released once the next lands): the returned frame owns the only
    * live spill; the caller releases it via `Caching.release` when
    * done. */
  /** One additional Louvain level on top of an existing REAPED
    * assignment: contract the original edges by `assign`, sweep the
    * contracted graph, compose, and return the reaped composed
    * assignment. The transient super-edge spill is released before
    * returning; `assign` is left alive — the caller owns its
    * lifecycle (the gate keeps level 1 for its stats; [[multilevel]]
    * releases it). */
  def nextLevel(edges: DataFrame, assign: DataFrame): DataFrame = {
    val sup = graft.core.Caching.reap(contract(edges, assign))
    val next = sweep(sup) // reaped by sweep itself
    val composed = graft.core.Caching.reap(
      assign.select(col("node"), col("community").as("__c"))
        .join(next.select(col("node").as("__c"), col("community")), "__c")
        .select("node", "community"))
    graft.core.Caching.release(sup)
    graft.core.Caching.release(next)
    composed
  }

  def multilevel(edges: DataFrame, levels: Int = 2): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var assign = sweep(edges) // reaped by sweep itself
    var lvl = 1
    while (lvl < levels) {
      val nxt = nextLevel(edges, assign)
      graft.core.Caching.release(assign)
      assign = nxt
      lvl += 1
    }
    assign
  }

  /** Newman modularity of an assignment over the same symmetric edge
    * list: Q = Σ_c [ W_c/(2m) − (K_c/(2m))² ], W_c counting BOTH
    * directions of intra-community weight. Exact-integer masses in
    * doubles; the community-sum order is normalized by rounding. */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    // deg feeds m2 and the mass join — persisted so the E-row
    // aggregation runs once, and released by the reap below (the
    // C-row q_term result is materialized to scratch files, so this
    // operator no longer leaks its V-row cache into the session —
    // same ADVICE fix as sweep).
    val deg = edges.groupBy(col("src").as("node")).agg(sum("w").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m2 = deg.agg(sum("k").as("m2")) // = 2m
    val intra = edges
      .join(assign.select(col("node").as("src"), col("community").as("cs")),
        "src")
      .join(assign.select(col("node").as("dst"), col("community").as("cd")),
        "dst")
      .where(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(sum("w").as("wc"))
    val mass = deg.join(assign, "node")
      .groupBy("community").agg(sum("k").as("kc"),
        count(lit(1)).as("n_nodes"))
    graft.core.Caching.reap(
      mass.join(intra, Seq("community"), "left")
        .na.fill(0.0, Seq("wc"))
        .crossJoin(broadcast(m2))
        .select(col("community"), col("n_nodes"),
          (col("wc") / col("m2")
            - (col("kc") / col("m2")) * (col("kc") / col("m2"))).as("q_term")),
      deg)
  }
}
