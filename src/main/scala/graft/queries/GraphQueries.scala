package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.graph.{PageRank, Triangles, Undirected}

/** Oracle-checked graph analytics. The DuckDB oracles replay the same
  * iterations UNROLLED (one CTE per round), so the Spark loop's
  * checkpoint/lineage discipline is verified against straight-line
  * SQL — any drift in the damping algebra, the out-weight
  * normalization, or the no-in-edge handling shows up as a value
  * mismatch, not just a shape difference. */
object GraphQueries extends graft.QueryModule {

  /** SHARED co-purchase edge fixture: the weighted directed edge list
    * (src, dst, w = co-occurrence count, symmetric, no self-loops),
    * materialized to scratch parquet ONCE per sf dir and reused by
    * all four graph_* gates. Each gate previously rebuilt the same
    * basket expansion from lineitem — together ~26 s of the full
    * bench run; the scratch materialization pays the expansion once
    * and the three other gates read a parquet a fraction of
    * lineitem's size. Derivations: PageRank uses (src,dst,w) as-is;
    * the undirected edge list is its `src < dst` half
    * ([[undirectedEdges]]).
    *
    * Co-occurrence itself is built via per-order BASKETS, not a
    * fact-table self-join: one shuffle to the basket (collect_list),
    * pair expansion map-side by a double explode, one shuffle to the
    * (src,dst) counts. The self-join spelling exchanges the 600k-row
    * fact table twice AND sorts both sides (measured 6.3 s vs 2.9 s
    * at sf0.1). Basket expansion is quadratic per order — safe
    * because order size is bounded (≤7 lines); an unbounded-group
    * co-occurrence would need a basket-size cap first (the SemDedup
    * bucket-guard lesson). */
  private def coEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val (path, schema) = GraftSession.shared(s"graph_edges#$sfDir") { p =>
      val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
      val edges = li.groupBy("l_orderkey")
        .agg(collect_list("l_partkey").as("ps"))
        .select(explode(col("ps")).as("src"), col("ps"))
        .select(col("src"), explode(col("ps")).as("dst"))
        .where(col("src") =!= col("dst"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).cast("double").as("w"))
      edges.write.mode("overwrite").parquet(p)
      (p, edges.schema)
    }
    // the writer's schema, as Caching.reap reads back: no inference job
    spark.read.schema(schema).parquet(path)
  }

  /** The oracle spelling of [[coEdges]], opening a WITH list: CTE `el`
    * (src, dst, w), the symmetric weighted co-purchase edge list. */
  private val coEdgesSql: String =
    """WITH el AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
      |    CAST(count(*) AS DOUBLE) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2),
      |""".stripMargin

  /** The undirected co-purchase edge list (a, b): the `src < dst` half
    * of the symmetric [[coEdges]] fixture. Its pairs are canonical
    * (`a < b`), distinct and non-null with no self-loops, since the
    * fixture holds one row per (src, dst) after a `src =!= dst` filter
    * and `<` drops nulls. `undDeg` counts rows as degree on that
    * guarantee, and `KCore.peelRounds` takes the list as it is, with
    * no canonicalizing shuffle. */
  private def undirectedEdges(spark: SparkSession, sfDir: String): DataFrame =
    coEdges(spark, sfDir)
      .where(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))

  /** SHARED closed-triangle fixture: [[Triangles.closed]] over the
    * co-purchase graph — every triangle once as (u, x, y, du, dx, dy) —
    * materialized to scratch parquet ONCE per sf dir. The degree-ordered
    * wedge-closure join is the O(E^1.5) step that dominates all four
    * triangle-family gates (triangles, edge Jaccard, Adamic-Adar, local
    * clustering); before this fixture each gate re-ran the same
    * enumeration (~7 s × 4 at sf0.1, ~45 s × 4 at sf1 — adamic's r10/r11
    * watch item was mostly this repeated work). At 100 TB the same move
    * applies: the triangle stream is the expensive derived dataset you
    * materialize once and serve many audits from. */
  private def triStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (path, schema) = GraftSession.shared(s"graph_tri#$sfDir") { p =>
      val und = undirectedEdges(spark, sfDir)
      val tri = Triangles.closed(und, Undirected.degrees(und))
      tri.write.mode("overwrite").parquet(p)
      (p, tri.schema)
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Plain degrees (id, d) of the undirected co-purchase graph. */
  private def undDeg(spark: SparkSession, sfDir: String): DataFrame =
    Undirected.degrees(undirectedEdges(spark, sfDir))

  /** The oracle spelling of [[undirectedEdges]] and [[undDeg]], opening
    * a WITH list: CTEs `li`, `und` (canonical pairs) and `deg` (id, d). */
  private val undDegSql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
      |    greatest(x.l_partkey, y.l_partkey) AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey <> y.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS d FROM (
      |    SELECT a AS id FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY id),
      |""".stripMargin

  /** CTE `o`: [[Triangles.closed]]'s orientation of `und` over `deg`, each
    * edge as (u, v, dv) from its lower-(degree, id) endpoint u. */
  private val orientSql: String =
    """o AS (
      |  SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN u.a ELSE u.b END AS u,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN u.b ELSE u.a END AS v,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN db.d ELSE da.d END AS dv
      |  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id),
      |""".stripMargin

  /** Weighted PageRank (5 rounds, d=0.85) over the part co-purchase
    * graph: parts are linked when they appear in the same order, edge
    * weight = number of co-occurrences. The symmetric edge list makes
    * every node reachable and dangling-free; ranks are rounded to 4dp
    * (double-summation orders differ between engines at ~1e-13). */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    PageRank.run(coEdges(spark, sfDir), iters = 5)
      .select(col("node"), round(col("rank"), 4).as("rank"))
      .orderBy("node")
  }

  private def prRound(k: Int): String =
    s"""r$k AS (
       |  SELECT n.node, 0.15 + 0.85 * coalesce(s.inflow, 0) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, sum(r${k - 1}.rank * e.p) AS inflow
       |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
       |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin

  val graphPagerankSql: String =
    coEdgesSql +
    """outw AS (SELECT src, sum(w) AS tw FROM el GROUP BY 1),
      |e AS (SELECT el.src, el.dst, el.w / o.tw AS p
      |      FROM el JOIN outw o ON el.src = o.src),
      |nodes AS (SELECT src AS node FROM el UNION SELECT dst FROM el),
      |r0 AS (SELECT node, 1.0 AS rank FROM nodes),
      |""".stripMargin +
      (1 to 5).map(prRound).mkString(",\n") +
      "\nSELECT node, round(rank, 4) AS rank FROM r5 ORDER BY node"

  /** Personalized PageRank from a deterministic seed set (parts with
    * partkey ≡ 0 mod 97): teleport mass returns only to the seeds, so
    * after five rounds the ranking is a similarity-to-the-seed-basket
    * score — the recommendation/expansion primitive. Same persisted-
    * transition-matrix cost model as graph_pagerank; the seed
    * indicator rides a broadcast join. Output: top-20 nodes by the
    * ROUNDED rank (6dp, node tie-break) — the recommendation list. */
  def graphPprSeeds(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coEdges(spark, sfDir)
    val seeds = edges.select(col("src").as("node")).distinct()
      .where(col("node") % 97 === 0)
    PageRank.runPersonalized(edges, seeds, iters = 5)
      .select(col("node"),
        graft.functions.ScoreFns.scoreRound(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }
  private def pprRound(k: Int): String =
    s"""r$k AS (
       |  SELECT n.node,
       |    0.15 * n.is_seed + 0.85 * coalesce(s.inflow, 0) AS rank
       |  FROM sn n LEFT JOIN (
       |    SELECT e.dst AS node, sum(r${k - 1}.rank * e.p) AS inflow
       |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
       |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
  val graphPprSql: String =
    coEdgesSql +
    """outw AS (SELECT src, sum(w) AS tw FROM el GROUP BY 1),
      |e AS (SELECT el.src, el.dst, el.w / o.tw AS p
      |      FROM el JOIN outw o ON el.src = o.src),
      |nodes AS (SELECT src AS node FROM el UNION SELECT dst FROM el),
      |sn AS (
      |  SELECT node, CASE WHEN node % 97 = 0 THEN 1.0 ELSE 0.0 END
      |    AS is_seed
      |  FROM nodes),
      |r0 AS (SELECT node, is_seed AS rank FROM sn),
      |""".stripMargin +
      (1 to 5).map(pprRound).mkString(",\n") +
      """
        |SELECT node, rank FROM (
        |  SELECT node, round(rank, 6) + 0.0 AS rank FROM r5) t
        |ORDER BY rank DESC, node LIMIT 20""".stripMargin

  /** Triangle count + transitivity of the part co-purchase graph
    * (graph.Triangles): degree-ordered orientation bounds the wedge
    * join at O(E^1.5) regardless of hub skew. The oracle replays
    * orientation → wedge → closure with the identical lexicographic
    * (degree, id) tie-break, so an off-by-one in the orientation (the
    * classic double/zero-count bug) breaks the value, not just the
    * plan. Same bounded basket expansion as graph_pagerank. */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame =
    Triangles.stats(triStream(spark, sfDir), undDeg(spark, sfDir))
  val graphTrianglesSql: String =
    undDegSql + orientSql +
    """wedge AS (
      |  SELECT e1.v AS x, e2.v AS y
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |tri AS (
      |  SELECT count(*) AS t FROM wedge w
      |  JOIN o ON o.u = w.x AND o.v = w.y),
      |wt AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
      |SELECT t AS n_triangles, wedges AS n_wedges,
      |  CASE WHEN wedges = 0 THEN 0.0
      |    ELSE round(3.0 * t / wedges, 6) END AS clustering
      |FROM tri, wt""".stripMargin

  /** Degree statistics + power-law exponent of the co-purchase graph:
    * node/edge counts, the hub degree, and the log-log slope of the
    * degree-frequency distribution (regr_slope over (ln d, ln f) —
    * the standard first-look test for scale-free structure, and the
    * number that says whether a degree-capped algorithm will face
    * hubs). Everything is keyed aggregation; the regression runs over
    * the DISTINCT-degree table, which is at most √(2E) rows. */
  def graphDegreeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val und = undirectedEdges(spark, sfDir)
    val deg = Undirected.degrees(und)
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val slope = deg.groupBy("d").agg(count(lit(1)).as("f"))
      .agg(graft.functions.ScoreFns.scoreRound(
        expr("regr_slope(ln(f), ln(d))"), 6).as("powerlaw_slope"))
    deg.agg(count(lit(1)).as("n_nodes"), max("d").as("max_deg"))
      .crossJoin(broadcast(nEdges)).crossJoin(broadcast(slope))
      .select("n_nodes", "n_edges", "max_deg", "powerlaw_slope")
  }
  val graphDegreeStatsSql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT id, count(*) AS d FROM (
      |    SELECT a AS id FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY id),
      |fr AS (SELECT d, count(*) AS f FROM deg GROUP BY 1)
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM und) AS n_edges,
      |  (SELECT max(d) FROM deg) AS max_deg,
      |  round(regr_slope(ln(f), ln(d)), 6) + 0.0 AS powerlaw_slope
      |FROM fr""".stripMargin

  /** Three k-core peel rounds (k=3) over the co-purchase graph
    * (graph.KCore): per-round surviving node/edge counts. The oracle
    * unrolls the identical peel — degree, threshold, both-endpoint
    * edge filter — three times; a drifted threshold or a
    * single-endpoint filter bug breaks the counts immediately. The
    * peel takes [[undirectedEdges]] as it is: already canonical, so no
    * edge-sized shuffle runs before round 1. */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.KCore.peelRounds(undirectedEdges(spark, sfDir), k = 3,
      rounds = 3)
  private def kcoreRound(n: Int, prev: String): String =
    s"""d$n AS (
       |  SELECT id, count(*) AS d FROM (
       |    SELECT a AS id FROM $prev UNION ALL SELECT b FROM $prev)
       |  GROUP BY id),
       |k$n AS (SELECT id FROM d$n WHERE d >= 3),
       |e$n AS (
       |  SELECT p.a, p.b FROM $prev p
       |  JOIN k$n x ON p.a = x.id JOIN k$n y ON p.b = y.id)""".stripMargin
  val graphKcoreSql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
      |    greatest(x.l_partkey, y.l_partkey) AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey <> y.l_partkey),
      |""".stripMargin +
      Seq(kcoreRound(1, "e0"), kcoreRound(2, "e1"), kcoreRound(3, "e2"))
        .mkString(",\n") + "\n" +
      """SELECT 1 AS round, (SELECT count(*) FROM k1) AS n_nodes,
        |  (SELECT count(*) FROM e1) AS n_edges
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
        |UNION ALL
        |SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
        |ORDER BY round""".stripMargin

  /** Synchronous label propagation (graph.LabelProp, 3 rounds) over
    * the co-purchase graph: community sizes after the fixed rounds.
    * The oracle unrolls the identical tally → argmax → relabel per
    * round with the same (weight DESC, label ASC) total tie order —
    * the synchronous+tie-ordered variant is the only deterministic
    * (and therefore oracle-able) LPA; the classic asynchronous one is
    * visit-order-dependent. Communities are summarized (label, size)
    * so the gate checks the full partition without V output rows. */
  def graphLabelProp(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.LabelProp.run(coEdges(spark, sfDir), iters = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min("node").as("min_node"))
      .orderBy("community")
  private def lpRound(n: Int): String =
    s"""l$n AS (
       |  SELECT node, label FROM (
       |    SELECT node, label,
       |      row_number() OVER (PARTITION BY node
       |        ORDER BY tw DESC, label) AS rn
       |    FROM (
       |      SELECT e.dst AS node, l.label, sum(e.w) AS tw
       |      FROM el e JOIN l${n - 1} l ON e.src = l.node
       |      GROUP BY e.dst, l.label))
       |  WHERE rn = 1)""".stripMargin
  val graphLabelPropSql: String =
    coEdgesSql +
    """l0 AS (SELECT DISTINCT src AS node, src AS label FROM el),
      |""".stripMargin +
      (1 to 3).map(lpRound).mkString(",\n") + "\n" +
      """SELECT label AS community, count(*) AS n_nodes,
        |  min(node) AS min_node
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-edge neighborhood Jaccard (embeddedness) — the local graph
    * sparsification score (Satuluri et al., SIGMOD'11): for each
    * undirected edge (a,b), jac = t / (deg(a) + deg(b) - 2 - t) where
    * t = triangles through the edge = |N(a) ∩ N(b)|. Scale shape: t
    * comes from the SAME degree-ordered wedge-closure join as
    * graph_triangles (each closed wedge emits its three edges
    * map-side), so candidate volume stays O(E^1.5) under hub skew —
    * never the unbounded all-pairs-by-shared-neighbor shuffle, which
    * the measured degree profile (Σd² ≈ 3.0e8 at sf0.1) rules out.
    * Output is the integer percent-bucket histogram of the scores
    * ((100·t) div union — exact integer arithmetic, immune to
    * cross-engine round-half drift), which checks every edge's score
    * without E output rows. */
  def graphEdgeJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val und = undirectedEdges(spark, sfDir)
    val deg = undDeg(spark, sfDir)
    // per-edge triangle counts from the SHARED materialized triangle
    // stream (the wedge-closure join is paid once per sf, not per gate)
    val closed = triStream(spark, sfDir)
    // each triangle (u,x,y) credits all three of its edges (a<b keys)
    val perEdge = closed.select(
        array(struct(least(col("u"), col("x")).as("a"),
            greatest(col("u"), col("x")).as("b")),
          struct(least(col("u"), col("y")).as("a"),
            greatest(col("u"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))).as("es"))
      .select(explode(col("es")).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("t"))
    und
      .join(perEdge, Seq("a", "b"), "left")
      .na.fill(0L, Seq("t"))
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("d", "db"), "b")
      // integer-exact percent bucket ((100·t) div union) — no
      // cross-engine round-half hazard, no 0/0 (empty shared
      // neighborhoods on a degree-1–degree-1 edge ⇒ jaccard 1)
      .select(when(col("da") + col("db") - 2 - col("t") === 0, lit(100L))
        .otherwise(expr("(100 * t) div (da + db - 2 - t)"))
        .as("jac_pct"))
      .groupBy("jac_pct")
      .agg(count(lit(1)).as("n_edges"))
      .orderBy("jac_pct")
  }
  val graphEdgeJaccardSql: String =
    undDegSql + orientSql +
    """wedge AS (
      |  SELECT e1.u AS u, e1.v AS x, e2.v AS y
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |tri AS (
      |  SELECT w.u, w.x, w.y FROM wedge w
      |  JOIN o ON o.u = w.x AND o.v = w.y),
      |pere AS (
      |  SELECT a, b, count(*) AS t FROM (
      |    SELECT least(u, x) AS a, greatest(u, x) AS b FROM tri
      |    UNION ALL SELECT least(u, y), greatest(u, y) FROM tri
      |    UNION ALL SELECT least(x, y), greatest(x, y) FROM tri)
      |  GROUP BY 1, 2)
      |SELECT CASE WHEN da.d + db.d - 2 - coalesce(p.t, 0) = 0 THEN 100
      |    ELSE (100 * coalesce(p.t, 0))
      |      // (da.d + db.d - 2 - coalesce(p.t, 0)) END AS jac_pct,
      |  count(*) AS n_edges
      |FROM und u
      |LEFT JOIN pere p ON u.a = p.a AND u.b = p.b
      |JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Adamic–Adar link scores: for each edge, Σ over common neighbors u
    * of 1/ln(deg(u)) — the classic link-prediction feature that
    * down-weights promiscuous hubs. Reuses the degree-ordered wedge
    * orientation of `graphTriangles`/`graphEdgeJaccard` (each triangle
    * enumerated once, candidate volume bounded O(E^1.5) under hub
    * skew); each closed triangle credits its three edges with
    * 1/ln(degree of the OPPOSITE vertex). A common neighbor is by
    * construction degree ≥ 2, so ln(d) ≥ ln 2 — no 0-division. Top-20
    * by the ROUNDED score (both engines order the identical 4dp value;
    * ties break on the edge key) keeps the gate output bounded. */
  def graphAdamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    // the enumeration (and its degree columns) comes from the SHARED
    // materialized triangle stream; this gate adds only the map-side
    // 3-way credit explode and one keyed aggregate
    val closed = triStream(spark, sfDir)
    val credits = closed.select(explode(array(
        struct(least(col("x"), col("y")).as("ea"),
          greatest(col("x"), col("y")).as("eb"), col("du").as("dth")),
        struct(least(col("u"), col("x")).as("ea"),
          greatest(col("u"), col("x")).as("eb"), col("dy").as("dth")),
        struct(least(col("u"), col("y")).as("ea"),
          greatest(col("u"), col("y")).as("eb"), col("dx").as("dth"))))
        .as("e"))
      .groupBy(col("e.ea").as("a"), col("e.eb").as("b"))
      .agg(count(lit(1)).as("n_common"),
        graft.functions.ScoreFns.scoreRound(
          sum(lit(1.0) / log(col("e.dth"))), 4).as("aa"))
    credits.orderBy(col("aa").desc, col("a"), col("b")).limit(20)
  }
  val graphAdamicAdarSql: String =
    undDegSql +
    """o AS (
      |  SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN u.a ELSE u.b END AS u,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN u.b ELSE u.a END AS v,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN da.d ELSE db.d END AS du,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |      THEN db.d ELSE da.d END AS dv
      |  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id),
      |tri AS (
      |  SELECT e1.u AS u, e1.du AS du, e1.v AS x, e1.dv AS dx,
      |    e2.v AS y, e2.dv AS dy
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  JOIN o oc ON oc.u = e1.v AND oc.v = e2.v
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |credit AS (
      |  SELECT ea AS a, eb AS b, count(*) AS n_common,
      |    round(sum(1.0 / ln(dth)), 4) + 0.0 AS aa
      |  FROM (
      |    SELECT least(x, y) AS ea, greatest(x, y) AS eb, du AS dth FROM tri
      |    UNION ALL SELECT least(u, x), greatest(u, x), dy FROM tri
      |    UNION ALL SELECT least(u, y), greatest(u, y), dx FROM tri)
      |  GROUP BY 1, 2)
      |SELECT a, b, n_common, aa FROM credit
      |ORDER BY aa DESC, a, b LIMIT 20""".stripMargin

  /** Degree assortativity: Pearson correlation of endpoint degrees
    * over the SYMMETRIC directed edge list (each undirected edge
    * contributes both orientations, the standard Newman estimator, so
    * the two marginals coincide and r reduces to
    * (nΣxy − (Σx)²)/(nΣx² − (Σx)²)). Every moment is an exact integer
    * sum (one keyed aggregation after two broadcastable degree joins);
    * only the final three-term division happens in floating point, on
    * identical operands in both engines. Negative r = hubs link to
    * leaves (typical for co-purchase graphs). */
  def graphAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coEdges(spark, sfDir).select("src", "dst")
    val deg = undDeg(spark, sfDir)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    e.join(deg.withColumnRenamed("id", "src").withColumnRenamed("d", "dx"),
        "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("d", "dy"),
        "dst")
      .agg(count(lit(1)).as("n2"), sum("dx").as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), expr("n2 div 2").as("n_edges"),
        graft.functions.ScoreFns.scoreRound(
          (col("n2").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sx")) /
          (col("n2").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx")), 4)
          .as("assortativity"))
  }
  val graphAssortativitySql: String =
    undDegSql +
    """sym AS (
      |  SELECT a AS src, b AS dst FROM und
      |  UNION ALL SELECT b, a FROM und),
      |m AS (
      |  SELECT count(*) AS n2,
      |    CAST(sum(da.d) AS DOUBLE) AS sx,
      |    CAST(sum(da.d * da.d) AS DOUBLE) AS sxx,
      |    CAST(sum(da.d * db.d) AS DOUBLE) AS sxy
      |  FROM sym e JOIN deg da ON e.src = da.id
      |  JOIN deg db ON e.dst = db.id),
      |nn AS (SELECT count(*) AS n_nodes FROM deg)
      |SELECT nn.n_nodes, CAST(m.n2 AS BIGINT) // 2 AS n_edges,
      |  round((n2 * sxy - sx * sx) / (n2 * sxx - sx * sx), 4) + 0.0
      |    AS assortativity
      |FROM m CROSS JOIN nn""".stripMargin

  /** Per-node (LOCAL) clustering coefficient over the co-purchase
    * graph (graph.Triangles.perNode): the node-level cohesion signal —
    * spam/link-farm nodes sit in near-cliques (coeff → 1), organic
    * hubs in sparse stars (coeff → 0). Same degree-ordered O(E^1.5)
    * triangle enumeration as graph_triangles, then the three corners
    * of each triangle explode map-side into one keyed count — no
    * second wedge pass. Output: top 20 by (coeff, degree, id) —
    * deterministic under the 6dp rounding. */
  def graphClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame =
    Triangles.perNode(triStream(spark, sfDir), undDeg(spark, sfDir))
      .orderBy(col("coeff").desc, col("degree").desc, col("id"))
      .limit(20)
  val graphClusteringCoeffSql: String =
    undDegSql + orientSql +
    """wedge AS (
      |  SELECT e1.u AS u, e1.v AS x, e2.v AS y
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |corners AS (
      |  SELECT id, count(*) AS t FROM (
      |    SELECT w.u AS id FROM wedge w JOIN o ON o.u = w.x AND o.v = w.y
      |    UNION ALL
      |    SELECT w.x FROM wedge w JOIN o ON o.u = w.x AND o.v = w.y
      |    UNION ALL
      |    SELECT w.y FROM wedge w JOIN o ON o.u = w.x AND o.v = w.y)
      |  GROUP BY id)
      |SELECT deg.id, deg.d AS degree,
      |  coalesce(c.t, 0) AS n_triangles,
      |  round(2.0 * coalesce(c.t, 0) / (deg.d * (deg.d - 1)), 6) AS coeff
      |FROM deg LEFT JOIN corners c ON deg.id = c.id
      |WHERE deg.d >= 2
      |ORDER BY coeff DESC, degree DESC, deg.id LIMIT 20""".stripMargin

  /** HITS hubs & authorities (graph.Hits, 2 rounds, L1-normalized
    * half-steps) over the directed co-purchase list: top 20 by the
    * rounded authority score. The oracle unrolls both rounds — join,
    * aggregate, normalize — in straight-line CTEs, so drift in the
    * normalization order or a missing never-cited-node zero breaks
    * values. On this symmetric fixture hub = authority, which is
    * itself an invariant the replay confirms. */
  def graphHits(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Hits.run(coEdges(spark, sfDir), iters = 2)
      .select(col("node"),
        graft.functions.ScoreFns.scoreRound(col("authority"), 6)
          .as("authority"),
        graft.functions.ScoreFns.scoreRound(col("hub"), 6).as("hub"))
      .orderBy(col("authority").desc, col("node"))
      .limit(20)
  val graphHitsSql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |el AS (
      |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey <> y.l_partkey),
      |nodes AS (SELECT src AS node FROM el UNION SELECT dst FROM el),
      |h0 AS (SELECT node, 1.0 AS hub FROM nodes),
      |a1r AS (
      |  SELECT n.node, coalesce(s.a, 0) AS a FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS node, sum(h0.hub) AS a
      |    FROM el e JOIN h0 ON e.src = h0.node GROUP BY 1) s
      |  ON n.node = s.node),
      |a1 AS (SELECT node, a / (SELECT sum(a) FROM a1r) AS authority
      |       FROM a1r),
      |h1r AS (
      |  SELECT n.node, coalesce(s.h, 0) AS h FROM nodes n LEFT JOIN (
      |    SELECT e.src AS node, sum(a1.authority) AS h
      |    FROM el e JOIN a1 ON e.dst = a1.node GROUP BY 1) s
      |  ON n.node = s.node),
      |h1 AS (SELECT node, h / (SELECT sum(h) FROM h1r) AS hub FROM h1r),
      |a2r AS (
      |  SELECT n.node, coalesce(s.a, 0) AS a FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS node, sum(h1.hub) AS a
      |    FROM el e JOIN h1 ON e.src = h1.node GROUP BY 1) s
      |  ON n.node = s.node),
      |a2 AS (SELECT node, a / (SELECT sum(a) FROM a2r) AS authority
      |       FROM a2r),
      |h2r AS (
      |  SELECT n.node, coalesce(s.h, 0) AS h FROM nodes n LEFT JOIN (
      |    SELECT e.src AS node, sum(a2.authority) AS h
      |    FROM el e JOIN a2 ON e.dst = a2.node GROUP BY 1) s
      |  ON n.node = s.node),
      |h2 AS (SELECT node, h / (SELECT sum(h) FROM h2r) AS hub FROM h2r)
      |SELECT a2.node, round(a2.authority, 6) + 0.0 AS authority,
      |  round(h2.hub, 6) + 0.0 AS hub
      |FROM a2 JOIN h2 ON a2.node = h2.node
      |ORDER BY authority DESC, a2.node LIMIT 20""".stripMargin

  /** Multi-source BFS over the co-purchase graph: minimum hop distance
    * from the deterministic seed set (part keys ≡ 0 mod 997), capped
    * at 4 hops, reported as level-census rows (nodes + id checksum per
    * hop). Frontier-expansion iteration in [[graft.graph.Bfs]] — each
    * round joins only the FRONTIER against the edge list, so the walk
    * costs O(reached edges), not rounds × |E|. The oracle replays the
    * walk as a DuckDB recursive CTE (UNION-distinct on (node, hop),
    * min-hop after), exact because the hop cap bounds the recursion. */
  def graphBfsLevels(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coEdges(spark, sfDir)
    val seeds = e.select(col("src").as("node")).distinct()
      .where(pmod(col("node"), lit(997L)) === 0)
    graft.graph.Bfs.levels(e, seeds, maxHops = 4)
      .groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum("node").as("sum_node"))
      .orderBy("hop")
  }
  val graphBfsLevelsSql: String =
    """WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey <> y.l_partkey),
      |bfs(node, hop) AS (
      |  SELECT DISTINCT a, 0 FROM und WHERE a % 997 = 0
      |  UNION
      |  SELECT u.b, bfs.hop + 1 FROM bfs JOIN und u ON u.a = bfs.node
      |  WHERE bfs.hop < 4)
      |SELECT hop, count(*) AS n_nodes, CAST(sum(node) AS BIGINT)
      |    AS sum_node
      |FROM (SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM bfs
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One synchronous Louvain sweep ([[graft.graph.Louvain]]) over the
    * co-purchase graph, audited by its own objective: the gate reports
    * how many nodes moved, how many communities the sweep produced,
    * and the NEWMAN MODULARITY of the resulting partition — the
    * number a curation pipeline reads before trusting the communities
    * for near-dup cluster splitting or topic bucketing. The oracle
    * replays the closed-form singleton gains, the synchronous argmax
    * adoption and the modularity audit. Shapes: keyed aggregations
    * and equi-joins only (argmax is a max(struct) aggregate, not a
    * window); see the module doc for the 100 TB argument. */
  def graphLouvain(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coEdges(spark, sfDir)
    // r16 optimization: the sweep assignment feeds THREE consumers
    // (modularity's intra join, its mass join, and the moved stats);
    // un-reaped, each consumer re-evaluates the full E-sized sweep
    // plan (the measured r16 before-plan carried 180 Exchanges / 86
    // scans for a 1-row result). Reaping the bounded V-row assignment
    // pays one tiny spill and every consumer reads the files.
    // Measured sf0.1 suite best-of-2: 4.45 s before; see
    // OPTIMIZATION_r16.md for the landed after-numbers.
    // sweep/modularity reap internally (r17: they release their own
    // V-row persists — ADVICE r16). The gate collects its 1-row result
    // eagerly so BOTH scratch spills can be released deterministically
    // before returning, instead of leaking until JVM exit; the
    // returned frame is rebuilt from the collected row with the
    // identical schema.
    val assign = graft.graph.Louvain.sweep(edges)
    val terms = graft.graph.Louvain.modularity(edges, assign)
    val moved = assign.agg(count(lit(1)).as("n_nodes"),
      sum(when(col("community") =!= col("node"), 1L).otherwise(0L))
        .as("n_moved"))
    val q = terms.agg(count(lit(1)).as("n_communities"),
      graft.functions.ScoreFns.scoreRound(sum("q_term"), 6)
        .as("modularity"))
    val plan = moved.crossJoin(q)
    val rows = plan.collect().toIndexedSeq
    graft.core.Caching.release(assign)
    graft.core.Caching.release(terms)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, plan.schema)
  }

  /** The oracle spelling of ONE [[graft.graph.Louvain.sweep]] over
    * CTEs `el` (symmetric edge list) / `deg` / `mm`, ending in `best`
    * (node, community) — shared verbatim by the single-level and
    * multi-level oracles so the two replays cannot drift. Mirrors the
    * Spark sweep exactly: self-edges excluded from candidacy (adopt1),
    * gain-less nodes keep themselves (adopta), mutual adoptions
    * collapse to the smaller id (best — the r15-advice resolution). */
  private val louvainSweepSql: String =
    """gains AS (
      |  SELECT e.src, e.dst,
      |    round(e.w / m - (ki.k * kj.k) / (2.0 * m * m), 8) AS gain
      |  FROM el e JOIN deg ki ON ki.node = e.src
      |  JOIN deg kj ON kj.node = e.dst CROSS JOIN mm
      |  WHERE e.src <> e.dst),
      |adopt1 AS (
      |  SELECT src AS node,
      |    CASE WHEN gain > 0 THEN dst ELSE src END AS adopt
      |  FROM (
      |    SELECT src, dst, gain, row_number() OVER (PARTITION BY src
      |      ORDER BY gain DESC, dst) AS rn
      |    FROM gains) t
      |  WHERE rn = 1),
      |adopta AS (
      |  SELECT d.node, coalesce(a.adopt, d.node) AS adopt
      |  FROM deg d LEFT JOIN adopt1 a ON a.node = d.node),
      |best AS (
      |  SELECT a.node,
      |    CASE WHEN b.adopt = a.node AND a.adopt <> a.node
      |      THEN least(a.node, a.adopt) ELSE a.adopt END AS community
      |  FROM adopta a JOIN adopta b ON b.node = a.adopt),""".stripMargin

  val graphLouvainSql: String =
    coEdgesSql +
    s"""deg AS (SELECT src AS node, sum(w) AS k FROM el GROUP BY 1),
      |mm AS (SELECT sum(k) / 2.0 AS m FROM deg),
      |$louvainSweepSql
      |mm2 AS (SELECT sum(k) AS m2 FROM deg),
      |intra AS (
      |  SELECT a1.community, sum(e.w) AS wc
      |  FROM el e JOIN best a1 ON a1.node = e.src
      |  JOIN best a2 ON a2.node = e.dst AND a2.community = a1.community
      |  GROUP BY 1),
      |mass AS (
      |  SELECT b.community, sum(d.k) AS kc, count(*) AS n_nodes
      |  FROM deg d JOIN best b ON b.node = d.node GROUP BY 1),
      |terms AS (
      |  SELECT m.community,
      |    coalesce(i.wc, 0.0) / m2 - (m.kc / m2) * (m.kc / m2) AS q_term
      |  FROM mass m LEFT JOIN intra i ON i.community = m.community
      |  CROSS JOIN mm2),
      |moved AS (
      |  SELECT count(*) AS n_nodes,
      |    CAST(sum(CASE WHEN community <> node THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_moved
      |  FROM best),
      |qq AS (
      |  SELECT count(*) AS n_communities,
      |    round(sum(q_term), 6) + 0.0 AS modularity
      |  FROM terms)
      |SELECT n_nodes, n_moved, n_communities, modularity
      |FROM moved CROSS JOIN qq""".stripMargin

  /** GQ14 (r15 judge item 2): TWO-level Louvain — the single sweep
    * plus Blondel phase 2: contract each community to a super-node
    * (intra weight → self-loop, preserving k_c = Σk_i and m), re-run
    * the same sweep on the contracted graph, and compose the
    * assignments. Two unrolled levels (the BPE/k-means unrolled-
    * iteration doctrine); the oracle replays BOTH sweeps through the
    * shared CTE block so the engines cannot drift per level. Output:
    * one row per level with the community count and the modularity of
    * that level's COMPOSED assignment on the ORIGINAL edge list —
    * non-decreasing across levels on communities the first sweep
    * fragmented (pair chains, resolved swaps).
    *
    * Scale shape: level 1 is the graph_louvain plan; the level-1
    * assignment and the composed assignment are reaped (bounded V-row
    * frames, multi-consumer); the contracted graph is C-node/≤E-edge
    * and shrinks geometrically, so level 2 costs less than level 1;
    * the transient super-edge spill is released as soon as the
    * composition lands (reap lifecycle doctrine). */
  def graphLouvainMultilevel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.graph.Louvain
    val edges = coEdges(spark, sfDir)
    val a1 = Louvain.sweep(edges) // reaped by sweep itself (r17)
    // r16 optimization (guide §1.2 step 1 — remove full passes): the
    // modularity of an assignment on the ORIGINAL edges equals the
    // modularity read off the CONTRACTED graph, because contraction
    // preserves exactly the three masses the formula uses — m2 = Σk,
    // K_c = Σ_{i∈c} k_i (the super-node degree), and W_c = the (c,c)
    // self-loop weight (both intra directions folded). All weights are
    // integer-valued doubles (co-purchase counts), so the sums are
    // EXACT and the equality is bit-for-bit, not approximate. The r15
    // shape re-joined the full E-row edge list to each level's
    // assignment twice per modularity audit (2 × 2 E-joins) and
    // composed assignments through another V-join; all of that now
    // reads the C-row contracted graphs instead. The one full-E
    // contraction (level 1 → sup) was already being paid by nextLevel;
    // level 2's contraction runs on the C-row sup. a1's spill is
    // released as soon as sup lands (its only consumer).
    val sup = graft.core.Caching.reap(Louvain.contract(edges, a1))
    graft.core.Caching.release(a1)
    // a2 feeds BOTH join sides of the level-2 contraction; the r16
    // profile showed sup at 1.24M edges (sf0.1) — NOT geometrically
    // smaller — so re-evaluating sweep(sup) twice cost ~2 s. Reap it.
    val a2 = Louvain.sweep(sup) // reaped by sweep itself (r17)
    val sup2 = Louvain.contract(sup, a2)
    val percoms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def levelRowFrom(level: Int, g: DataFrame): DataFrame = {
      // ONE keyed pass over the contracted graph: K_c = Σw over the
      // src group, W_c = the self-loop's weight folded in the same
      // aggregation (sum over src==dst rows — exact, integer-valued
      // weights). The community-row result is persisted because both
      // m2 and the final fold read it; without the persist the
      // level-2 contract plan underneath would run once per consumer.
      val percom = g.groupBy(col("src").as("community"))
        .agg(sum("w").as("kc"),
          sum(when(col("src") === col("dst"), col("w"))
            .otherwise(0.0)).as("wc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      percoms += percom
      val m2 = percom.agg(sum("kc").as("m2"))
      percom
        .crossJoin(broadcast(m2))
        .agg(count(lit(1)).as("n_communities"),
          graft.functions.ScoreFns.scoreRound(
            sum(col("wc") / col("m2")
              - (col("kc") / col("m2")) * (col("kc") / col("m2"))), 6)
            .as("modularity"))
        .select(lit(level.toLong).as("level"),
          col("n_communities"), col("modularity"))
    }
    // eager 2-row collect (r16 ADVICE: a2/sup spill dirs and the
    // percom caches previously lived until JVM exit because the
    // returned lazy frame still read them) — release everything
    // deterministically and rebuild from literals, identical schema.
    val plan =
      levelRowFrom(1, sup).unionByName(levelRowFrom(2, sup2)).orderBy("level")
    val rows = plan.collect().toIndexedSeq
    percoms.foreach(_.unpersist(blocking = false))
    graft.core.Caching.release(a2)
    graft.core.Caching.release(sup)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, plan.schema)
  }

  val graphLouvainMultilevelSql: String =
    coEdgesSql +
    s"""deg AS (SELECT src AS node, sum(w) AS k FROM el GROUP BY 1),
      |mm AS (SELECT sum(k) / 2.0 AS m FROM deg),
      |$louvainSweepSql
      |mm2 AS (SELECT sum(k) AS m2 FROM deg),
      |t1i AS (
      |  SELECT a1.community, sum(e.w) AS wc
      |  FROM el e JOIN best a1 ON a1.node = e.src
      |  JOIN best a2 ON a2.node = e.dst AND a2.community = a1.community
      |  GROUP BY 1),
      |t1m AS (
      |  SELECT b.community, sum(d.k) AS kc
      |  FROM deg d JOIN best b ON b.node = d.node GROUP BY 1),
      |t1 AS (
      |  SELECT m.community,
      |    coalesce(i.wc, 0.0) / m2 - (m.kc / m2) * (m.kc / m2) AS q_term
      |  FROM t1m m LEFT JOIN t1i i ON i.community = m.community
      |  CROSS JOIN mm2),
      |sel AS (
      |  SELECT b1.community AS src, b2.community AS dst, sum(e.w) AS w
      |  FROM el e JOIN best b1 ON b1.node = e.src
      |  JOIN best b2 ON b2.node = e.dst
      |  GROUP BY 1, 2),
      |deg2 AS (SELECT src AS node, sum(w) AS k FROM sel GROUP BY 1),
      |mmb AS (SELECT sum(k) / 2.0 AS m FROM deg2),
      |gains2 AS (
      |  SELECT e.src, e.dst,
      |    round(e.w / m - (ki.k * kj.k) / (2.0 * m * m), 8) AS gain
      |  FROM sel e JOIN deg2 ki ON ki.node = e.src
      |  JOIN deg2 kj ON kj.node = e.dst CROSS JOIN mmb
      |  WHERE e.src <> e.dst),
      |adopt2 AS (
      |  SELECT src AS node,
      |    CASE WHEN gain > 0 THEN dst ELSE src END AS adopt
      |  FROM (
      |    SELECT src, dst, gain, row_number() OVER (PARTITION BY src
      |      ORDER BY gain DESC, dst) AS rn
      |    FROM gains2) t
      |  WHERE rn = 1),
      |adoptb AS (
      |  SELECT d.node, coalesce(a.adopt, d.node) AS adopt
      |  FROM deg2 d LEFT JOIN adopt2 a ON a.node = d.node),
      |best2 AS (
      |  SELECT a.node,
      |    CASE WHEN b.adopt = a.node AND a.adopt <> a.node
      |      THEN least(a.node, a.adopt) ELSE a.adopt END AS community
      |  FROM adoptb a JOIN adoptb b ON b.node = a.adopt),
      |comp AS (
      |  SELECT b1.node, b2.community
      |  FROM best b1 JOIN best2 b2 ON b2.node = b1.community),
      |t2i AS (
      |  SELECT a1.community, sum(e.w) AS wc
      |  FROM el e JOIN comp a1 ON a1.node = e.src
      |  JOIN comp a2 ON a2.node = e.dst AND a2.community = a1.community
      |  GROUP BY 1),
      |t2m AS (
      |  SELECT b.community, sum(d.k) AS kc
      |  FROM deg d JOIN comp b ON b.node = d.node GROUP BY 1),
      |t2 AS (
      |  SELECT m.community,
      |    coalesce(i.wc, 0.0) / m2 - (m.kc / m2) * (m.kc / m2) AS q_term
      |  FROM t2m m LEFT JOIN t2i i ON i.community = m.community
      |  CROSS JOIN mm2),
      |l1 AS (
      |  SELECT CAST(1 AS BIGINT) AS level, count(*) AS n_communities,
      |    round(sum(q_term), 6) + 0.0 AS modularity FROM t1),
      |l2 AS (
      |  SELECT CAST(2 AS BIGINT) AS level, count(*) AS n_communities,
      |    round(sum(q_term), 6) + 0.0 AS modularity FROM t2)
      |SELECT * FROM l1 UNION ALL SELECT * FROM l2 ORDER BY level""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("graph_louvain", graphLouvain, graphLouvainSql),
    Gate("graph_louvain_multilevel", graphLouvainMultilevel,
      materialized(graphLouvainMultilevelSql)),
    Gate("graph_bfs_levels", graphBfsLevels, graphBfsLevelsSql),
    Gate("graph_adamic_adar", graphAdamicAdar,
      materialized(graphAdamicAdarSql)),
    Gate("graph_assortativity", graphAssortativity, graphAssortativitySql),
    Gate("graph_clustering_coeff", graphClusteringCoeff,
      materialized(graphClusteringCoeffSql)),
    Gate("graph_hits", graphHits, materialized(graphHitsSql)),
    Gate("graph_pagerank", graphPagerank, materialized(graphPagerankSql)),
    Gate("graph_ppr_seeds", graphPprSeeds, materialized(graphPprSql)),
    Gate("graph_degree_stats", graphDegreeStats, graphDegreeStatsSql),
    Gate("graph_kcore", graphKcore, materialized(graphKcoreSql)),
    Gate("graph_label_prop", graphLabelProp, graphLabelPropSql),
    Gate("graph_edge_jaccard", graphEdgeJaccard,
      materialized(graphEdgeJaccardSql)),
    Gate("graph_triangles", graphTriangles, materialized(graphTrianglesSql)))
}
