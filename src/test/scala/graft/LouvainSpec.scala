package graft

import org.apache.spark.sql.functions._

class LouvainSpec extends SparkSpecBase {
  import spark.implicits._

  // two 4-cliques bridged by one edge; unit weights, symmetric list
  private val cliqueA = Seq(1L, 2L, 3L, 4L)
  private val cliqueB = Seq(11L, 12L, 13L, 14L)
  private lazy val plantedCliques = {
    def clique(ns: Seq[Long]) =
      for { a <- ns; b <- ns if a != b } yield (a, b, 1.0)
    (clique(cliqueA) ++ clique(cliqueB) ++
      Seq((4L, 11L, 1.0), (11L, 4L, 1.0)))
      .toDF("src", "dst", "w")
  }

  /** Modularity read off a CONTRACTED graph must equal modularity
    * computed on the original edges — the identity the r16
    * graphLouvainMultilevel rewrite leans on (contraction preserves
    * m2, K_c and the intra self-loop mass W_c; integer-valued weights
    * make the double sums exact). Checked on the planted-clique
    * fixture for BOTH levels. */
  test("contracted-graph modularity equals original-edge modularity") {
    val edges = plantedCliques

    import graft.graph.Louvain
    val a1 = Louvain.sweep(edges)
    val sup = Louvain.contract(edges, a1)

    def fromOriginal(assign: org.apache.spark.sql.DataFrame)
        : (Long, Double) = {
      val t = Louvain.modularity(edges, assign)
        .agg(count(lit(1)), sum("q_term")).collect()(0)
      (t.getLong(0), t.getDouble(1))
    }
    def fromContracted(g: org.apache.spark.sql.DataFrame)
        : (Long, Double) = {
      val deg = g.groupBy(col("src").as("community"))
        .agg(sum("w").as("kc"))
      val m2 = deg.agg(sum("kc").as("m2"))
      val selfw = g.where(col("src") === col("dst"))
        .select(col("src").as("community"), col("w").as("wc"))
      val t = deg.join(selfw, Seq("community"), "left")
        .na.fill(0.0, Seq("wc"))
        .crossJoin(broadcast(m2))
        .agg(count(lit(1)), sum(col("wc") / col("m2")
          - (col("kc") / col("m2")) * (col("kc") / col("m2"))))
        .collect()(0)
      (t.getLong(0), t.getDouble(1))
    }

    val (n1o, q1o) = fromOriginal(a1)
    val (n1c, q1c) = fromContracted(sup)
    assert(n1c == n1o, s"level-1 community count $n1c != $n1o")
    assert(q1c == q1o, s"level-1 modularity $q1c != $q1o (must be exact)")

    // level 2: composed assignment on original edges vs the doubly-
    // contracted graph
    val a2 = Louvain.sweep(sup)
    val sup2 = Louvain.contract(sup, a2)
    val composed = a1.select(col("node"), col("community").as("__c"))
      .join(a2.select(col("node").as("__c"), col("community")), "__c")
      .select("node", "community")
    val (n2o, q2o) = fromOriginal(composed)
    val (n2c, q2c) = fromContracted(sup2)
    assert(n2c == n2o, s"level-2 community count $n2c != $n2o")
    assert(q2c == q2o, s"level-2 modularity $q2c != $q2o (must be exact)")
  }

  test("Louvain sweep merges planted cliques and beats the singleton modularity") {
    val edges = plantedCliques
    val assign = graft.graph.Louvain.sweep(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every node adopts a neighbor from ITS OWN clique (the bridge
    // gain is strictly smaller than any intra-clique gain)
    cliqueA.foreach(n => assert(cliqueA.contains(assign(n)),
      s"node $n -> ${assign(n)}"))
    cliqueB.foreach(n => assert(cliqueB.contains(assign(n)),
      s"node $n -> ${assign(n)}"))
    val q = graft.graph.Louvain
      .modularity(edges, graft.graph.Louvain.sweep(edges))
      .agg(sum("q_term")).collect()(0).getDouble(0)
    // singleton partition: Q = −Σ(k/2m)² < 0; the sweep must beat it
    assert(q > 0.0, s"modularity $q not positive")
  }

  // ---- multi-level Louvain: sweep resolution and contraction ----

  /** Symmetric weighted edge list from undirected unit-weight pairs. */
  private def sym(pairs: Seq[(Long, Long)]) = {
    (pairs.map { case (a, b) => (a, b, 1.0) } ++
      pairs.map { case (a, b) => (b, a, 1.0) }).toDF("src", "dst", "w")
  }

  private def qOf(edges: org.apache.spark.sql.DataFrame,
                  assign: org.apache.spark.sql.DataFrame): Double =
    graft.graph.Louvain.modularity(edges, assign)
      .agg(sum("q_term")).collect()(0).getDouble(0)

  test("sweep resolves mutual adoption: an equal-weight clique lands " +
      "in ONE community") {
    // r15 artifact: in a 4-clique, 1 adopted 2 while 2,3,4 adopted 1,
    // leaving the mutually-adopting pair split across two output
    // communities; the min(node, adopted) resolution collapses it
    val k4 = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    val a = graft.graph.Louvain.sweep(k4).collect()
    assert(a.map(_.getLong(1)).distinct.toSeq == Seq(1L),
      s"clique must be one community, got ${a.mkString(", ")}")
  }

  test("two-level Louvain merges 6-cycle fragments and does not " +
      "decrease modularity") {
    val cyc = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L)))
    val a1 = graft.graph.Louvain.sweep(cyc)
    val a2 = graft.graph.Louvain.multilevel(cyc, levels = 2)
    val (q1, q2) = (qOf(cyc, a1), qOf(cyc, a2))
    val (c1, c2) = (a1.select("community").distinct().count(),
      a2.select("community").distinct().count())
    assert(q2 >= q1 - 1e-12,
      s"modularity decreased across levels: $q1 -> $q2")
    assert(c2 <= c1, s"communities grew across levels: $c1 -> $c2")
    // the first sweep fragments the cycle (chain adoptions leave
    // stranded labels); contraction must actually merge something
    assert(c2 < c1 && q2 > q1,
      s"level 2 must strictly improve on the cycle: q $q1->$q2, c $c1->$c2")
    graft.core.Caching.release(a2)
  }

  test("contract preserves degree mass and total weight m") {
    val k4 = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    val a = graft.graph.Louvain.sweep(k4)
    val sup = graft.graph.Louvain.contract(k4, a)
    // whole clique -> one super-node with a single self-loop carrying
    // ALL the directed weight (12 = 6 undirected unit edges x 2)
    val rows = sup.collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows(0).getDouble(2) == 12.0)
  }
}
