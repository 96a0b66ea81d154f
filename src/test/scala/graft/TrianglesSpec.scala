package graft

import org.apache.spark.sql.DataFrame
import graft.core.GraftSession
import graft.graph.{Triangles, Undirected}

/** Brute-force cross-check of `graph.Triangles` on a seeded random
  * graph: the `graph_triangles` oracle pins one graph; this pins the
  * counting algebra on any graph — the enumeration, the global and
  * per-node formulas, the per-edge credits of the Jaccard and
  * Adamic-Adar gates — plus the degenerate graphs no oracle sees. */
class TrianglesSpec extends SparkSpecBase {
  import spark.implicits._

  // the seeded 25-node graph, as canonical (a < b) pairs
  private val nodes = 0L until 25L
  private val edges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(13)
    for {
      a <- nodes; b <- nodes if a < b && rnd.nextInt(5) == 0
    } yield (a, b)
  }
  private val nbrs: Map[Long, Set[Long]] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  private def deg(n: Long): Int = nbrs.getOrElse(n, Set.empty).size
  private def linked(x: Long, y: Long): Boolean = nbrs.get(x).exists(_(y))
  private def common(a: Long, b: Long): Set[Long] =
    nbrs.getOrElse(a, Set.empty) intersect nbrs.getOrElse(b, Set.empty)

  /** The closed triangles, global stats and per-node clustering of any
    * pair list, through the canonicalizer and the degree table. */
  private def library(pairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val und = Undirected.canonical(pairs)
    val d = Undirected.degrees(und)
    val closed = Triangles.closed(und, d)
    (closed, Triangles.stats(closed, d), Triangles.perNode(closed, d))
  }

  test("triangle stats match brute-force triple enumeration") {
    val tris = (for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if linked(x, y) && common(x, y).contains(z)
    } yield 1).size
    val wedges = nodes.map(n => deg(n).toLong * (deg(n) - 1) / 2).sum
    val row = library(edges.toDF("a", "b"))._2.head()
    assert(tris > 0)
    assert(row.getLong(0) == tris, s"triangles ${row.getLong(0)} != $tris")
    assert(row.getLong(1) == wedges)
  }

  test("closed lists each triangle once, from its lowest-(degree, id) corner") {
    def rank(n: Long) = (deg(n), n)
    val expected = (for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if linked(x, y) && common(x, y).contains(z)
    } yield {
      val Seq(u, v, w) = Seq(x, y, z).sortBy(rank)
      (u, v, w, deg(u).toLong, deg(v).toLong, deg(w).toLong)
    }).sorted
    val got = library(edges.toDF("a", "b"))._1.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq.sorted
    assert(got == expected)
  }

  test("per-node clustering matches brute-force neighbor-pair counts") {
    val got = library(edges.toDF("a", "b"))._3.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val expected = nodes.filter(deg(_) >= 2).map { n =>
      val ns = nbrs(n).toSeq
      val t = (for (x <- ns; y <- ns if x < y && linked(x, y)) yield 1).size
      n -> (deg(n).toLong, t.toLong, 2.0 * t / (deg(n).toLong * (deg(n) - 1)))
    }.toMap
    assert(got.keySet == expected.keySet)
    assert(expected.values.exists(_._2 > 0) && expected.values.exists(_._2 == 0))
    expected.foreach { case (n, (d, t, c)) =>
      val (gd, gt, gc) = got(n)
      assert(gd == d && gt == t, s"node $n: ($gd, $gt) != ($d, $t)")
      assert(math.abs(gc - c) <= 5e-7, s"node $n: coeff $gc vs $c")
    }
  }

  test("per-edge triangle counts credited by graph_edge_jaccard and graph_adamic_adar match brute force") {
    // one two-line order per edge: the co-purchase graph IS the seeded graph
    val dir = GraftSession.scratch("tri-edges")
    edges.zipWithIndex
      .flatMap { case ((a, b), o) => Seq((o.toLong, a), (o.toLong, b)) }
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    // edge Jaccard: t = |N(a) ∩ N(b)| triangles through the edge
    val jac = edges.map { case (a, b) =>
      val t = common(a, b).size
      val union = deg(a) + deg(b) - 2 - t
      if (union == 0) 100L else (100L * t) / union
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotJac = graft.queries.GraphQueries.graphEdgeJaccard(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotJac == jac)
    assert(jac.keySet.exists(_ > 0) && jac.keySet.contains(0L))
    // Adamic-Adar: the same t credited as n_common, each common
    // neighbor weighted 1/ln(its degree); top 20 by the rounded score
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aa = edges.filter { case (a, b) => common(a, b).nonEmpty }.map {
      case (a, b) =>
        val cs = common(a, b).toSeq
        (a, b, cs.size.toLong, cs.map(c => 1.0 / math.log(deg(c))).sum)
    }
    assert(aa.size > 20)
    val top = aa.sortBy { case (a, b, _, s) => (-round4(s), a, b) }.take(20)
    val gotAa = graft.queries.GraphQueries.graphAdamicAdar(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(gotAa.map(r => (r._1, r._2, r._3)) == top.map(r => (r._1, r._2, r._3)))
    gotAa.zip(top).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) <= 5e-5 + 1e-12, s"$g vs $e")
    }
  }

  test("degenerate graphs: empty, self-loops only, a star, reversed and repeated pairs") {
    def run(pairs: Seq[(Long, Long)]) = {
      val (closed, stats, per) = library(pairs.toDF("a", "b"))
      (closed.count(), stats.collect().toSeq,
        per.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq)
    }
    // no edge at all: no triangle, and the wedge sum runs over no rows,
    // so n_wedges and clustering are null (SQL's `sum`, as the oracle's)
    for ((name, pairs) <- Seq("empty" -> Seq.empty[(Long, Long)],
        "self-loops only" -> Seq((1L, 1L), (2L, 2L), (2L, 2L)))) {
      val (nClosed, stats, per) = run(pairs)
      assert(nClosed == 0L && per.isEmpty, name)
      assert(stats.size == 1 && stats.head.getLong(0) == 0L, name)
      assert(stats.head.isNullAt(1) && stats.head.isNullAt(2), name)
    }
    // a star: C(5,2) wedges at the hub, none closed
    val (starClosed, star, starPer) = run((1L to 5L).map(leaf => (0L, leaf)))
    assert(starClosed == 0L)
    assert(star.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((0L, 10L, 0.0)))
    assert(starPer == Seq((0L, 5L, 0L, 0.0)))
    // triangle {1,2,3} plus pendant 4 at node 3, every edge reversed
    // and repeated, with a self-loop: the canonicalizer leaves 4 edges
    val messy = Seq((2L, 1L), (1L, 2L), (1L, 2L), (3L, 2L), (1L, 3L),
      (3L, 1L), (4L, 3L), (3L, 4L), (3L, 3L))
    val (messyClosed, tri, triPer) = run(messy)
    assert(messyClosed == 1L)
    // wedges: 1 + 1 + C(3,2) + 0 = 5; clustering 3·1/5
    assert(tri.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((1L, 5L, 0.6)))
    assert(triPer == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333)))
  }
}
