package graft

import org.apache.spark.sql.functions._
import graft.graph.PageRank

/** Power-iteration PageRank invariants on graphs with known closed
  * forms. */
class PageRankSpec extends SparkSpecBase {

  test("symmetric regular graph is a fixed point at rank 1") {
    val s = spark
    import s.implicits._
    // 2-cycle: each node's inflow is exactly the other's full rank, so
    // r' = 0.15 + 0.85·1 = 1 every round
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "w")
    val ranks = PageRank.run(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.keySet == Set(1L, 2L))
    assert(ranks.values.forall(r => math.abs(r - 1.0) < 1e-12))
  }

  test("directed chain: source decays to reset, sink follows one round behind") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 1.0)).toDF("src", "dst", "w")  // 1 → 2 only
    val after2 = PageRank.run(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 1 has no in-edges: rank = 0.15 from round 1 on.
    // node 2 after round 2: 0.15 + 0.85·0.15
    assert(math.abs(after2(1L) - 0.15) < 1e-12)
    assert(math.abs(after2(2L) - (0.15 + 0.85 * 0.15)) < 1e-12)
  }

  test("symmetric graphs conserve total mass at V") {
    val s = spark
    import s.implicits._
    // star: center 0 ↔ leaves 1..4, mixed weights (normalization must
    // make each node's out-probabilities sum to 1 regardless)
    val half = (1L to 4L).map(i => (0L, i, i.toDouble))
    val edges = (half ++ half.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    val total = PageRank.run(edges, iters = 4)
      .agg(sum("rank")).head().getDouble(0)
    assert(math.abs(total - 5.0) < 1e-9, s"mass leaked: $total")
  }

  test("heavier edges attract proportionally more rank") {
    val s = spark
    import s.implicits._
    // 1 points at 2 with 9× the weight it points at 3
    val edges = Seq((1L, 2L, 9.0), (1L, 3L, 1.0),
      (2L, 1L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val ranks = PageRank.run(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(2L) > ranks(3L))
  }
}
