package graft

import graft.graph.Triangles

/** Brute-force cross-check of `graph.Triangles` on a seeded random
  * graph: the `graph_triangles` oracle pins one graph; this pins the
  * counting algebra on any graph. */
class TrianglesSpec extends SparkSpecBase {
  import spark.implicits._

  test("triangle stats match brute-force triple enumeration") {
    val rnd = new scala.util.Random(13)
    val nodes = 0L until 25L
    val edges = (for {
      a <- nodes; b <- nodes if a < b && rnd.nextInt(5) == 0
    } yield (a, b)).toSeq
    val df = edges.toDF("a", "b")
    val es = edges.toSet
    def linked(x: Long, y: Long) =
      es.contains((math.min(x, y), math.max(x, y)))
    val tris = (for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if linked(x, y) && linked(x, z) && linked(y, z)
    } yield 1).size
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size)
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val row = Triangles.stats(df).head()
    assert(row.getLong(0) == tris, s"triangles ${row.getLong(0)} != $tris")
    assert(row.getLong(1) == wedges)
  }
}
