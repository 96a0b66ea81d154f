package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting + global and local clustering coefficients — the
  * standard graph-cohesion statistics (spam/link-farm detection over
  * crawl graphs, community density for corpus-source QA).
  *
  * Degree-ordered orientation: every undirected edge {a,b} is directed
  * from its lower-(degree, id) endpoint to the higher one, turning the
  * graph into a DAG in which each triangle {x,y,z} (rank order) is
  * counted exactly once, as wedge x→y, x→z closed by edge y→z. The
  * orientation is the whole scale story: out-degree in the oriented
  * graph is bounded by O(√E) (a node of degree d only keeps out-edges
  * to HIGHER-degree neighbors, of which there are at most ~√(2E)), so
  * the wedge self-join — the only quadratic-looking step — generates
  * Σ outdeg² = O(E^1.5) candidates worst-case instead of Σ deg²,
  * which a single skewed hub would otherwise drive to E². All three
  * steps are plain keyed shuffles (degree agg, wedge join on the
  * common source, closure join on the (y,z) pair); nothing is
  * collected, no windows over the full graph.
  *
  * [[closed]] is the one enumeration; [[stats]] and [[perNode]] read
  * its rows, so callers that want several statistics can materialize
  * the closed triangles once and serve them all.
  */
object Triangles {

  /** Every closed triangle of a canonical edge list `und` (see
    * [[Undirected]]) with degrees `deg` = `Undirected.degrees(und)`,
    * once each, as (u, x, y, du, dx, dy): u the lowest-(degree, id)
    * corner, (x, y) its two legs in (degree, id) order, d* the plain
    * degrees. The corner degrees ride along for degree-weighted
    * consumers (Adamic-Adar credits 1/ln(deg)). */
  def closed(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient each edge toward the higher (degree, id); carry both
    // endpoint degrees so the wedge join can order its two legs without
    // a global rank (a row_number over all nodes would funnel V rows
    // through one partition)
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = und
      .join(deg.withColumnRenamed("id", "a")
        .withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("id", "b")
        .withColumnRenamed("d", "db"), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"),
        when(fwd, col("da")).otherwise(col("db")).as("du"),
        when(fwd, col("db")).otherwise(col("da")).as("dv"))
    val o1 = o.select(col("u"), col("du"),
      col("v").as("x"), col("dv").as("dx"))
    val o2 = o.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    // wedges at the lowest-ranked corner, legs ordered by (deg, id);
    // narrow BEFORE the closure join: the wedge stream is the big
    // intermediate, so only the columns the output needs ride the
    // (x, y) exchange
    o1.join(o2, "u")
      .where(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select("u", "du", "x", "dx", "y", "dy")
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select("u", "x", "y", "du", "dx", "dy")
  }

  /** One-row global stats from [[closed]]'s rows and the degrees they
    * came from: (n_triangles, n_wedges, clustering) where n_wedges =
    * Σ d(d−1)/2 over plain degrees and clustering = 3·triangles /
    * wedges (the transitivity ratio; 0 when the graph has no wedges).
    * On a graph with no edge at all the wedge sum is over no rows, so
    * n_wedges and clustering are null, as SQL's `sum` gives. */
  def stats(closed: DataFrame, deg: DataFrame): DataFrame = {
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    // per-node wedge count stays integral (d(d−1) is even; integer
    // halving per term, then a long sum — no float accumulation)
    val wedgeTotal = deg
      .agg(sum(((col("d") * (col("d") - 1)) / lit(2)).cast("long"))
        .as("n_wedges"))
    tri.crossJoin(broadcast(wedgeTotal))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering"))
  }

  /** LOCAL clustering coefficient per node from [[closed]]'s rows and
    * their degrees: (id, degree, n_triangles, coeff = 2·t / (d·(d−1)))
    * for every node with degree ≥ 2 (the coefficient is undefined
    * below). Each triangle's THREE corners explode map-side into one
    * keyed count over 3T rows — never a second wedge pass. Nodes in no
    * triangle get coeff 0 via the left join (absence of evidence is a
    * 0 coefficient, not a dropped row). */
  def perNode(closed: DataFrame, deg: DataFrame): DataFrame = {
    val triCorners = closed
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    deg.where(col("d") >= 2)
      .join(triCorners, Seq("id"), "left")
      .select(col("id"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
          / (col("d") * (col("d") - 1)), 6).as("coeff"))
  }
}
