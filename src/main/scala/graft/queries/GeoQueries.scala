package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables
import graft.geo.Geo
import graft.functions.ScoreFns.scoreRound

/** Geospatial gates over the integer-grid primitives in [[graft.geo.Geo]]:
  * a cell-pruned radius join, bounded-radius kNN, and per-cell density
  * statistics. Coordinates are deterministic salted-md5 synthetics (the
  * testdata tables carry no geometry), so every oracle rebuilds the
  * identical points in ANSI SQL.
  *
  * Scale shapes:
  *  - the POINT side is fact-sized and is touched by exactly one narrow
  *    projection (hash → units → cell) plus one join or one keyed
  *    aggregation — never sorted, never self-joined;
  *  - the PROBE side is bounded (up to 20 sites — `s_suppkey <= 20`
  *    keeps all suppliers at tiny SFs, e.g. 10 at sf0.001; the bound,
  *    not the exact count, is what scale needs) and broadcast after a
  *    map-side 9× neighbor-ring explode;
  *  - radius join and kNN read only the probes' 3×3 cell rings. For
  *    radius ≤ 50 km the ring prune is PROVABLY lossless (Geo object
  *    doc), which is why the radius/kNN oracles can be written as the
  *    semantically-true UNPRUNED distance joins: the gate then verifies
  *    both the arithmetic and the losslessness of the prune on real
  *    data, the same oracle posture as the containment prefix filter.
  */
object GeoQueries extends graft.QueryModule {

  private val RadiusKm = 50.0
  private val KnnK = 8

  private def custPoints(spark: SparkSession, sfDir: String): DataFrame =
    Geo.points(Tables.customer(spark, sfDir).select("c_custkey"), "c_custkey", "cust")

  private def sitePoints(spark: SparkSession, sfDir: String): DataFrame =
    Geo.points(
      Tables.supplier(spark, sfDir).select("s_suppkey").where(col("s_suppkey") <= 20),
      "s_suppkey", "site")

  /** Shared oracle CTE: rebuild both point families (salted-md5 →
    * integer units → degrees) exactly as [[Geo.syntheticPoint]] does. */
  private val pointsCte: String =
    """WITH c AS (
      |  SELECT c_custkey AS id,
      |    ('0x' || substr(md5('lat:cust:' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 120000 AS latu,
      |    ('0x' || substr(md5('lon:cust:' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 360000 AS lonu
      |  FROM customer),
      |cd AS (
      |  SELECT id, CAST(latu AS DOUBLE)/10000.0 - 6.0 AS lat,
      |    CAST(lonu AS DOUBLE)/10000.0 - 18.0 AS lon, latu, lonu
      |  FROM c),
      |p AS (
      |  SELECT s_suppkey AS probe_id,
      |    ('0x' || substr(md5('lat:site:' || CAST(s_suppkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 120000 AS latu,
      |    ('0x' || substr(md5('lon:site:' || CAST(s_suppkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 360000 AS lonu
      |  FROM supplier WHERE s_suppkey <= 20),
      |pd AS (
      |  SELECT probe_id, CAST(latu AS DOUBLE)/10000.0 - 6.0 AS plat,
      |    CAST(lonu AS DOUBLE)/10000.0 - 18.0 AS plon
      |  FROM p)""".stripMargin

  /** Haversine in the oracle mirrors [[Geo.haversineKm]] op-for-op:
    * p is (lat1, lon1), c is (lat2, lon2). */
  private def havSql(plat: String, plon: String, lat: String, lon: String): String =
    s"""round(12742.0176 * asin(sqrt(
       |    sin(radians($lat - $plat)/2.0) * sin(radians($lat - $plat)/2.0)
       |    + cos(radians($plat)) * cos(radians($lat))
       |      * sin(radians($lon - $plon)/2.0) * sin(radians($lon - $plon)/2.0))), 4)""".stripMargin

  /** G1: radius join — every customer within 50 km of each of the 20
    * probe sites, via the 3×3 cell-ring broadcast join. */
  def geoRadiusJoin(spark: SparkSession, sfDir: String): DataFrame =
    Geo.radiusJoin(custPoints(spark, sfDir), sitePoints(spark, sfDir), RadiusKm)
      .select(col("probe_id"), col("id").as("point_id"), col("dist_km"))
      .orderBy("probe_id", "point_id")

  val radiusJoinSql: String =
    s"""$pointsCte,
       |j AS (
       |  SELECT pd.probe_id, cd.id AS point_id,
       |    ${havSql("pd.plat", "pd.plon", "cd.lat", "cd.lon")} AS dist_km
       |  FROM pd CROSS JOIN cd)
       |SELECT probe_id, point_id, dist_km
       |FROM j WHERE dist_km <= $RadiusKm
       |ORDER BY probe_id, point_id""".stripMargin

  /** G2: bounded-radius kNN — the (up to) 8 nearest customers within
    * 50 km of each probe. Selection is the map-side BoundedTopK heap
    * over the ring candidates (no window sort over the point side);
    * ties broken by point id, ranking on the 4dp-rounded distance so
    * the cut is deterministic cross-engine. */
  def geoKnnCells(spark: SparkSession, sfDir: String): DataFrame =
    Geo.radiusJoin(custPoints(spark, sfDir), sitePoints(spark, sfDir), RadiusKm)
      .groupBy("probe_id")
      .agg(graft.plans.BoundedTopK(
        struct((-col("dist_km")).as("nd"), (-col("id")).as("nid")), KnnK).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("probe_id"), (col("i") + 1).cast("long").as("rank"),
        (-col("e.nid")).as("point_id"), (-col("e.nd")).as("dist_km"))
      .orderBy("probe_id", "rank")

  val knnCellsSql: String =
    s"""$pointsCte,
       |j AS (
       |  SELECT pd.probe_id, cd.id AS point_id,
       |    ${havSql("pd.plat", "pd.plon", "cd.lat", "cd.lon")} AS dist_km
       |  FROM pd CROSS JOIN cd),
       |r AS (
       |  SELECT probe_id, point_id, dist_km,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY dist_km, point_id) AS rank
       |  FROM j WHERE dist_km <= $RadiusKm)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, point_id, dist_km
       |FROM r WHERE rank <= $KnnK
       |ORDER BY probe_id, rank""".stripMargin

  /** G3: per-cell density statistics — point count and mean account
    * balance per occupied 1° cell, with a density z-score against the
    * occupied-cell population. One fact-sized keyed aggregation; the
    * z-score joins the bounded (≤432-row) cell table against its own
    * 1-row moments. Top 25 cells by density, full deterministic order. */
  def geoCellStats(spark: SparkSession, sfDir: String): DataFrame = {
    val (latu, lonu) = Geo.syntheticPoint(col("c_custkey"), "cust")
    val cells = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"), latu.as("latu"), lonu.as("lonu"))
      .withColumn("cell_y", expr(s"latu div ${Geo.CellUnits}"))
      .withColumn("cell_x", expr(s"lonu div ${Geo.CellUnits}"))
      .groupBy("cell_y", "cell_x")
      .agg(count(lit(1)).as("n_points"), avg("c_acctbal").as("avg_bal"))
    val m = cells.agg(avg("n_points").as("mu"), stddev_pop("n_points").as("sd"))
    cells.crossJoin(broadcast(m))
      .select(col("cell_y"), col("cell_x"), col("n_points"),
        scoreRound(col("avg_bal"), 4).as("avg_bal"),
        scoreRound((col("n_points") - col("mu")) / col("sd"), 6).as("dens_z"))
      .orderBy(desc("n_points"), col("cell_y"), col("cell_x"))
      .limit(25)
  }

  val cellStatsSql: String =
    """WITH c AS (
      |  SELECT c_custkey AS id, c_acctbal,
      |    ('0x' || substr(md5('lat:cust:' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 120000 AS latu,
      |    ('0x' || substr(md5('lon:cust:' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 360000 AS lonu
      |  FROM customer),
      |g AS (
      |  SELECT latu // 10000 AS cell_y, lonu // 10000 AS cell_x,
      |    count(*) AS n_points, avg(c_acctbal) AS avg_bal
      |  FROM c GROUP BY 1, 2),
      |m AS (SELECT avg(n_points) AS mu, stddev_pop(n_points) AS sd FROM g)
      |SELECT cell_y, cell_x, n_points,
      |  round(avg_bal, 4) + 0.0 AS avg_bal,
      |  round((n_points - mu) / sd, 6) + 0.0 AS dens_z
      |FROM g CROSS JOIN m
      |ORDER BY n_points DESC, cell_y, cell_x LIMIT 25""".stripMargin

  /** Number of Gi* hotspot rows emitted. */
  private val HotspotK = 20

  /** GE4: Getis–Ord Gi* hotspot detection over the customer density
    * grid — the spatial-autocorrelation statistic (Getis & Ord 1992;
    * Ord & Getis 1995 for the * variant, self included) that separates
    * a genuinely clustered hotspot from a lone dense cell: Gi* z-scores
    * the 3×3-neighborhood SUM against its expectation under spatial
    * randomness, so one hot cell with cold neighbors scores far lower
    * than a hot ring. Computed on the COMPLETE bounded grid (12×36
    * cells, zero-filled — empty cells are real observations for a
    * density statistic), binary weights over the longitude-wrapped
    * 3×3 ring (latitude band does not wrap, mirroring the Geo ring
    * semantics). Shape: ONE fact pass to the cell counts; everything
    * after lives on the 432-row grid (offset explode ×9, two keyed
    * aggs, broadcast global moments). */
  def geoHotspots(spark: SparkSession, sfDir: String): DataFrame = {
    val (latu, lonu) = Geo.syntheticPoint(col("c_custkey"), "cust")
    val counts = Tables.customer(spark, sfDir)
      .select(latu.as("latu"), lonu.as("lonu"))
      .withColumn("cell_y", expr(s"latu div ${Geo.CellUnits}"))
      .withColumn("cell_x", expr(s"lonu div ${Geo.CellUnits}"))
      .groupBy("cell_y", "cell_x")
      .agg(count(lit(1)).as("c"))
    val yCells = (Geo.LatUnits / Geo.CellUnits).toInt // 12
    val xCells = Geo.LonCells.toInt                   // 36
    val grid = spark.range(yCells).select(col("id").as("cell_y"))
      .crossJoin(spark.range(xCells).select(col("id").as("cell_x")))
    val full = grid.join(counts, Seq("cell_y", "cell_x"), "left")
      .na.fill(0L, Seq("c"))
    val moments = full.agg(count(lit(1)).cast("double").as("nn"),
      sum("c").as("sx"),
      sum(col("c").cast("double") * col("c")).as("sxx"))
    val off = spark.range(3).select((col("id") - 1).as("dy"))
      .crossJoin(spark.range(3).select((col("id") - 1).as("dx")))
    // each source cell credits its 9 targets; latitude clips, longitude
    // wraps (pmod) — identical ((x+dx)+36)%36 value in the oracle
    val contrib = full.crossJoin(off)
      .select((col("cell_y") + col("dy")).as("ty"),
        pmod(col("cell_x") + col("dx"), lit(xCells.toLong)).as("tx"),
        col("c"))
      .where(col("ty") >= 0 && col("ty") < yCells)
      .groupBy(col("ty").as("cell_y"), col("tx").as("cell_x"))
      .agg(sum("c").as("swx"), count(lit(1)).as("wi"))
    full.join(contrib, Seq("cell_y", "cell_x"))
      .crossJoin(broadcast(moments))
      .select(col("cell_y"), col("cell_x"), col("c").as("n_points"),
        col("wi").as("w_neighbors"),
        scoreRound((col("swx") - (col("sx") / col("nn")) * col("wi"))
          / (sqrt((col("sxx") - (col("sx").cast("double") * col("sx"))
            / col("nn")) / col("nn"))
            * sqrt((col("nn") * col("wi") - col("wi") * col("wi"))
              / (col("nn") - lit(1.0)))), 6).as("gi_star"))
      .orderBy(desc("gi_star"), col("cell_y"), col("cell_x"))
      .limit(HotspotK)
  }

  val hotspotsSql: String =
    s"""WITH pts AS (
       |  SELECT
       |    ('0x' || substr(md5('lat:cust:' || CAST(c_custkey AS VARCHAR)),
       |      1, 15))::BIGINT % 120000 AS latu,
       |    ('0x' || substr(md5('lon:cust:' || CAST(c_custkey AS VARCHAR)),
       |      1, 15))::BIGINT % 360000 AS lonu
       |  FROM customer),
       |cnt AS (
       |  SELECT latu // 10000 AS cell_y, lonu // 10000 AS cell_x,
       |    count(*) AS c
       |  FROM pts GROUP BY 1, 2),
       |grid AS (
       |  SELECT y.cell_y, x.cell_x
       |  FROM (SELECT unnest(generate_series(0, 11)) AS cell_y) y
       |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS cell_x) x),
       |full_g AS (
       |  SELECT g.cell_y, g.cell_x,
       |    CAST(coalesce(c, 0) AS BIGINT) AS c
       |  FROM grid g LEFT JOIN cnt USING (cell_y, cell_x)),
       |mom AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS nn,
       |    CAST(sum(c) AS BIGINT) AS sx,
       |    sum(CAST(c AS DOUBLE) * c) AS sxx
       |  FROM full_g),
       |off AS (
       |  SELECT dy.dy, dx.dx
       |  FROM (SELECT unnest(generate_series(-1, 1)) AS dy) dy
       |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS dx) dx),
       |contrib AS (
       |  SELECT ty AS cell_y, tx AS cell_x,
       |    CAST(sum(c) AS BIGINT) AS swx, count(*) AS wi
       |  FROM (
       |    SELECT f.cell_y + o.dy AS ty,
       |      ((f.cell_x + o.dx) + 36) % 36 AS tx, f.c
       |    FROM full_g f CROSS JOIN off o) t
       |  WHERE ty >= 0 AND ty < 12
       |  GROUP BY 1, 2)
       |SELECT f.cell_y, f.cell_x, f.c AS n_points, wi AS w_neighbors,
       |  round((swx - (sx / nn) * wi)
       |    / (sqrt((sxx - (CAST(sx AS DOUBLE) * sx) / nn) / nn)
       |      * sqrt((nn * wi - wi * wi) / (nn - 1.0))), 6) + 0.0
       |    AS gi_star
       |FROM full_g f JOIN contrib USING (cell_y, cell_x)
       |CROSS JOIN mom
       |ORDER BY gi_star DESC, f.cell_y, f.cell_x LIMIT $HotspotK""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("geo_hotspots", geoHotspots, hotspotsSql),
    Gate("geo_radius_join", geoRadiusJoin, radiusJoinSql),
    Gate("geo_knn_cells", geoKnnCells, knnCellsSql),
    Gate("geo_cell_stats", geoCellStats, cellStatsSql))
}
