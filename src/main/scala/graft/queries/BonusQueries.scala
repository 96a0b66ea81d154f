package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables

/** Bonus relational surface beyond the reference's inventory (SURVEY
  * §2.4 notes these as absent-but-free): rollup/cube multi-level
  * aggregation, pivot, semi/anti joins, distinct aggregation. Exposed
  * so a reference user gains them without leaving the engine. */
object BonusQueries extends graft.QueryModule {

  /** ROLLUP: (status, priority) totals with subtotals + grand total. */
  def xRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  val rollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** PIVOT: event counts per user across event types (fixed columns). */
  def xPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")
  val pivotSql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** UNPIVOT (melt): the inverse of x_pivot — wide per-user event-type
    * counts back to long (user_id, event_type, n) rows via the
    * `unpivot` API (Spark's Expand operator: each input row fans out
    * map-side, no shuffle beyond the pivot's own aggregation). Zero
    * rows are dropped (the pivot's fill) so the round trip equals the
    * original long form the oracle computes directly. */
  def xUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
    wide.unpivot(Array(col("user_id")),
        Array(col("click"), col("view"), col("purchase")),
        "event_type", "n")
      .where(col("n") > 0)
      .orderBy("user_id", "event_type")
  }
  val unpivotSql: String =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events WHERE event_type IN ('click', 'view', 'purchase')
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Semi + anti joins: customers with orders vs without. */
  def xSemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select(col("o_custkey").as("c_custkey"))
    val withOrders = c.join(o, Seq("c_custkey"), "left_semi")
      .select(lit("with_orders").as("bucket"), col("c_custkey"))
    val without = c.join(o, Seq("c_custkey"), "left_anti")
      .select(lit("no_orders").as("bucket"), col("c_custkey"))
    withOrders.unionByName(without)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }
  val semiAntiSql: String =
    """SELECT bucket, count(*) AS n FROM (
      |  SELECT 'with_orders' AS bucket, c_custkey FROM customer
      |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |  UNION ALL
      |  SELECT 'no_orders', c_custkey FROM customer
      |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distinct aggregation + approx sketch sanity (exact part checked;
    * the HLL estimate is engine-specific so only the exact columns are
    * compared). */
  def xDistinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_suppkey").as("n_supps"))
      .orderBy("l_returnflag")
  val distinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** CUBE: all grouping combinations of (returnflag, linestatus). */
  def xCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  val cubeSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** INTERSECT / EXCEPT set ops (distinct semantics): parts that ship
    * in near-full quantity vs large-size parts — partially overlapping
    * key sets so all three buckets are non-trivial. */
  def xIntersectExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") >= 49).select(col("l_partkey").as("k")).distinct()
    val b = Tables.part(spark, sfDir)
      .where(col("p_size") >= 40).select(col("p_partkey").as("k"))
    val both = a.intersect(b).select(lit("both").as("bucket"), col("k"))
    val onlyA = a.except(b).select(lit("shipped_only").as("bucket"), col("k"))
    val onlyB = b.except(a).select(lit("large_only").as("bucket"), col("k"))
    both.unionByName(onlyA).unionByName(onlyB)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }
  val intersectExceptSql: String =
    """WITH a AS (SELECT DISTINCT l_partkey AS k FROM lineitem
      |           WHERE l_quantity >= 49),
      |b AS (SELECT p_partkey AS k FROM part WHERE p_size >= 40)
      |SELECT bucket, count(*) AS n FROM (
      |  SELECT 'both' AS bucket, k FROM
      |    (SELECT k FROM a INTERSECT SELECT k FROM b)
      |  UNION ALL
      |  SELECT 'shipped_only', k FROM
      |    (SELECT k FROM a EXCEPT SELECT k FROM b)
      |  UNION ALL
      |  SELECT 'large_only', k FROM
      |    (SELECT k FROM b EXCEPT SELECT k FROM a))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** GROUPING SETS with grouping-id disambiguation of the null rows. */
  def xGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_orders_gs")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus) AS g_status,
        |  grouping(o_orderpriority) AS g_prio,
        |  count(1) AS n, round(sum(o_totalprice), 2) AS total
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin)
  }
  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  grouping(o_orderstatus) AS g_status,
      |  grouping(o_orderpriority) AS g_prio,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  /** Top-3 events by (value, event_id) per type through the O(k)-state
    * BoundedTopK aggregate — the scale-safe replacement for
    * `row_number() OVER (...) <= k`, which sorts every row of every
    * group. The heap combines map-side; the exchange carries 3 structs
    * per group. */
  def xTopkPerGroup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(graft.plans.BoundedTopK(
        struct(col("value"), col("event_id")), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("event_type"), (col("i") + 1).as("rank"),
        col("e.value").as("value"), col("e.event_id").as("event_id"))
      .orderBy("event_type", "rank")
  val topkSql: String =
    """SELECT event_type, rank, value, event_id FROM (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id DESC) AS rank
      |  FROM events) t
      |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin

  /** Analytic window-function surface: lag/lead, bounded moving
    * average, running sum and row_number in one pass over a single
    * hash-partitioned sort (user_id), every frame ROWS-bounded. One
    * exchange + one sort serves all five functions — Spark pipelines
    * same-spec window operators. */
  def xWindowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val mov = w.rowsBetween(-3, 0)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        round(avg("value").over(mov), 4).as("mov_avg4"),
        round(sum("value").over(cum), 4).as("cum_value"),
        row_number().over(w).as("rn"))
      .orderBy("event_id")
  }
  val windowFuncsSql: String =
    """SELECT event_id, user_id,
      |  lag(value, 1) OVER w AS prev_value,
      |  lead(value, 1) OVER w AS next_value,
      |  round(avg(value) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg4,
      |  round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value,
      |  row_number() OVER w AS rn
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** Time-RANGE window frame (the rolling-feature staple ROWS frames
    * cannot express): per user, the count and value sum of events in
    * the trailing hour ENDING AT each event. The frame bound is
    * integral epoch-micros arithmetic (`unix_micros` / `epoch_us`), so
    * both engines bound the frame on exactly the same integers — an
    * INTERVAL bound over a timestamp order key would hinge on each
    * engine's timestamp comparison semantics instead. Plan shape: one
    * hash exchange on user_id + one sort serves both aggregates. */
  def xRollingRange(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hour = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3599999999L, 0) // (t-1h, t]: 3 599 999 999 µs back
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(hour).as("n_1h"),
        round(sum("value").over(hour), 4).as("sum_1h"))
      .orderBy("event_id")
  }
  val rollingRangeSql: String =
    """SELECT event_id, user_id,
      |  count(*) OVER w AS n_1h,
      |  round(sum(value) OVER w, 4) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Correlated EXISTS + scalar subquery through spark.sql: customers
    * holding at least one order above half the global max price,
    * counted per market segment. The threshold uses max (exact,
    * order-independent) so the comparison replays identically in any
    * engine — an avg/sum threshold would wobble in the last ulp. */
  def xExistsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("g_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("g_orders")
    spark.sql("""
      SELECT c_mktsegment, count(*) AS n_big
      FROM g_customer c
      WHERE EXISTS (
        SELECT 1 FROM g_orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > (SELECT max(o_totalprice) * 0.5 FROM g_orders))
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }
  val existsSql: String =
    """SELECT c_mktsegment, count(*) AS n_big
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_totalprice > (SELECT max(o_totalprice) * 0.5 FROM orders))
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Time-series resample + forward fill (time_bucket_gapfill /
    * fill(previous)): each user's event stream regularized onto an
    * hourly grid, silent hours carrying the last reading. Summarized
    * per user (bucket count, observed count, filled total) so the
    * gate is compact; the oracle rebuilds the grid with
    * generate_series and an IGNORE NULLS window. In-bucket collisions
    * resolve at microsecond order with a value tie-break in BOTH
    * engines (truncating to seconds here once disagreed with the
    * oracle's full-precision ordering — parity needs the same
    * granularity on both sides). */
  def tsResampleFfill(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Resample.forwardFill(
        Tables.events(spark, sfDir).select("user_id", "ts", "value"),
        "user_id", "ts", "value", stepSeconds = 3600L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("observed").cast("long")).as("n_observed"),
        round(sum("value"), 2).as("total"))
      .orderBy("user_id")
  val tsResampleSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |eb AS (
      |  SELECT user_id,
      |    CAST(floor(us / 3600000000) AS BIGINT) * 3600 AS bucket,
      |    us, value FROM e),
      |obs AS (
      |  SELECT user_id, bucket, value FROM (
      |    SELECT user_id, bucket, value,
      |      row_number() OVER (PARTITION BY user_id, bucket
      |        ORDER BY us DESC, value DESC) AS r
      |    FROM eb) t WHERE r = 1),
      |bounds AS (
      |  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      |  FROM obs GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(b0, b1, 3600)) AS bucket
      |  FROM bounds),
      |f AS (
      |  SELECT g.user_id, g.bucket, o.value AS ov,
      |    last_value(o.value IGNORE NULLS) OVER (
      |      PARTITION BY g.user_id ORDER BY g.bucket
      |      ROWS UNBOUNDED PRECEDING) AS fv
      |  FROM grid g LEFT JOIN obs o
      |    ON o.user_id = g.user_id AND o.bucket = g.bucket)
      |SELECT user_id, count(*) AS n_buckets,
      |  CAST(sum(CASE WHEN ov IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_observed,
      |  round(sum(fv), 2) AS total
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Linear-interpolation resample (Resample.interpolateLinear): the
    * `fill(linear)` twin of ts_resample_ffill, same hourly grid. The
    * oracle replays bucket collapse → grid → neighbor windows → the
    * IDENTICAL interpolation arithmetic (long subtraction, cast,
    * divide, fused the same way), so every synthesized value is
    * bit-equal per bucket (verified directly). The per-user summary
    * sums exact integer MILLI-units (`floor(value*1000)` per bucket,
    * then a long sum): a double `round(sum(value), 2)` flips at
    * midpoints because the low-entropy event decimals make sums land
    * within sum-order drift of x.xx5 (measured: 5 of ~150 users) —
    * floor of a bit-identical double is order-free and
    * midpoint-free. */
  def tsInterpolate(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Resample.interpolateLinear(
        Tables.events(spark, sfDir).select("user_id", "ts", "value"),
        "user_id", "ts", "value", stepSeconds = 3600L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("observed").cast("long")).as("n_observed"),
        sum(floor(col("value") * 1000).cast("long")).as("total_milli"))
      .orderBy("user_id")
  val tsInterpolateSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |eb AS (
      |  SELECT user_id,
      |    CAST(floor(us / 3600000000) AS BIGINT) * 3600 AS bucket,
      |    us, value FROM e),
      |obs AS (
      |  SELECT user_id, bucket, value FROM (
      |    SELECT user_id, bucket, value,
      |      row_number() OVER (PARTITION BY user_id, bucket
      |        ORDER BY us DESC, value DESC) AS r
      |    FROM eb) t WHERE r = 1),
      |bounds AS (
      |  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
      |  FROM obs GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(b0, b1, 3600)) AS bucket
      |  FROM bounds),
      |g AS (
      |  SELECT g.user_id, g.bucket, o.value AS ov
      |  FROM grid g LEFT JOIN obs o
      |    ON o.user_id = g.user_id AND o.bucket = g.bucket),
      |f AS (
      |  SELECT *,
      |    last_value(CASE WHEN ov IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY bucket
      |        ROWS UNBOUNDED PRECEDING) AS pb,
      |    last_value(ov IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS pv,
      |    first_value(CASE WHEN ov IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY bucket
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
      |    first_value(ov IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY bucket
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      |  FROM g),
      |vals AS (
      |  SELECT user_id, bucket, ov,
      |    CASE WHEN ov IS NOT NULL THEN ov
      |      ELSE pv + (nv - pv)
      |        * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
      |    END AS value
      |  FROM f)
      |SELECT user_id, count(*) AS n_buckets,
      |  CAST(sum(CASE WHEN ov IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_observed,
      |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
      |    AS total_milli
      |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin

  /** BAG semantics (EXCEPT ALL / INTERSECT ALL): multiplicities
    * survive — an order with three 'O' lineitems minus one 'F'
    * occurrence keeps two copies, where set-EXCEPT would keep zero or
    * one. Summarized as multiplicity histograms so the gate pins the
    * per-row counting, not just membership. */
  def xBagOps(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val a = li.where(col("l_quantity") >= 45).select(col("l_partkey").as("k"))
    val b = li.where(col("l_linestatus") === "F")
      .select(col("l_partkey").as("k"))
    val exc = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("m"))
      .groupBy("m").agg(count(lit(1)).as("n_keys"))
      .select(lit("except_all").as("op"), col("m"), col("n_keys"))
    val inter = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("m"))
      .groupBy("m").agg(count(lit(1)).as("n_keys"))
      .select(lit("intersect_all").as("op"), col("m"), col("n_keys"))
    exc.unionByName(inter).orderBy("op", "m")
  }
  val bagOpsSql: String =
    """WITH a AS (SELECT l_partkey AS k FROM lineitem WHERE l_quantity >= 45),
      |b AS (SELECT l_partkey AS k FROM lineitem WHERE l_linestatus = 'F'),
      |exc AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
      |inter AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
      |eh AS (SELECT m, count(*) AS n_keys FROM (
      |  SELECT k, count(*) AS m FROM exc GROUP BY 1) GROUP BY 1),
      |ih AS (SELECT m, count(*) AS n_keys FROM (
      |  SELECT k, count(*) AS m FROM inter GROUP BY 1) GROUP BY 1)
      |SELECT 'except_all' AS op, m, n_keys FROM eh
      |UNION ALL
      |SELECT 'intersect_all', m, n_keys FROM ih
      |ORDER BY op, m""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    * null-keyed group must MATCH its null counterpart instead of
    * dropping out, the semantics a plain equi-join silently loses.
    * Both sides are first reduced to tiny keyed aggregates. */
  def xNullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val a = ev.groupBy(nullif(col("event_type"), lit("click")).as("k"))
      .agg(count(lit(1)).as("na"))
    val b = ev.where(col("value") > 50)
      .groupBy(nullif(col("event_type"), lit("click")).as("k"))
      .agg(count(lit(1)).as("nb"))
    a.join(b, a("k") <=> b("k"))
      .select(coalesce(a("k"), lit("__null")).as("k"), col("na"), col("nb"))
      .orderBy("k")
  }
  val nullSafeJoinSql: String =
    """WITH a AS (
      |  SELECT nullif(event_type, 'click') AS k, count(*) AS na
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT nullif(event_type, 'click') AS k, count(*) AS nb
      |  FROM events WHERE value > 50 GROUP BY 1)
      |SELECT coalesce(a.k, '__null') AS k, na, nb
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY k""".stripMargin

  /** Ordered funnel (click → view → purchase): each later stage must
    * happen strictly AFTER the user's earliest completion of the
    * prior stage — three chained filtered-min aggregations, each a
    * keyed broadcastable join back onto the stream. The product-
    * analytics staple; the same chained-min shape computes any
    * strict-order milestone sequence. */
  def xFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    def stage(prior: DataFrame, priorTs: String, evType: String,
              outTs: String): DataFrame =
      ev.where(col("event_type") === evType)
        .join(broadcast(prior), "user_id")
        .where(col("ts") > col(priorTs))
        .groupBy("user_id").agg(min("ts").as(outTs))
    val c = ev.where(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("tc"))
    val v = stage(c, "tc", "view", "tv")
    val p = stage(v, "tv", "purchase", "tp")
    c.agg(count(lit(1)).as("n_click"))
      .crossJoin(v.agg(count(lit(1)).as("n_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_click"), col("n_view"), col("n_purchase"),
        round(col("n_purchase").cast("double") / col("n_click"), 4)
          .as("conversion"))
  }
  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (SELECT user_id, min(ts) AS tc FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |v AS (SELECT e.user_id, min(e.ts) AS tv FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'view' AND e.ts > c.tc GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS tp FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts > v.tv GROUP BY 1)
      |SELECT (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  round(CAST((SELECT count(*) FROM p) AS DOUBLE)
      |    / (SELECT count(*) FROM c), 4) AS conversion""".stripMargin

  /** Weekly cohort retention: users grouped by first-activity week,
    * counted per (cohort, week offset) — offsets via day-difference
    * arithmetic, not engine week numbering (week-of-year rules
    * diverge; Monday-anchored date_trunc('week') agrees). One scan
    * for first-activity, one distinct (user, week) reduction, one
    * broadcastable cohort join. */
  def xCohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohort = ev.groupBy("user_id").agg(min("wk").as("cw"))
    ev.distinct()
      .join(broadcast(cohort), "user_id")
      .groupBy(col("cw").as("cohort_week"),
        (datediff(col("wk"), col("cw")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }
  val cohortSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY 1)
      |SELECT c.cw AS cohort_week,
      |  CAST(date_diff('day', c.cw, e.wk) // 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user z-score anomaly flags: events whose value sits more
    * than 3 sample standard deviations from the USER's own mean —
    * per-entity baselines, not a global threshold (a heavy spender's
    * normal is another user's anomaly). One moment-sketch aggregation
    * per user broadcast back onto the stream; single-event users
    * (stddev undefined) are excluded rather than flagged. */
  def xAnomalyZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "value")
    val stats = ev.groupBy("user_id")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sd"),
        count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2 && col("sd") > 0)
    ev.join(broadcast(stats), "user_id")
      .groupBy("user_id")
      .agg(sum((abs((col("value") - col("mu")) / col("sd")) > 3.0)
        .cast("long")).as("n_anomalies"))
      .where(col("n_anomalies") > 0)
      .orderBy("user_id")
  }
  val anomalySql: String =
    """WITH s AS (
      |  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1
      |  HAVING count(*) >= 2 AND stddev_samp(value) > 0)
      |SELECT e.user_id,
      |  CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sd) > 3.0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM events e JOIN s USING (user_id)
      |GROUP BY 1 HAVING sum(CASE WHEN abs((e.value - s.mu) / s.sd) > 3.0
      |  THEN 1 ELSE 0 END) > 0
      |ORDER BY 1""".stripMargin

  /** Distribution-rank window family: ntile quartiles, percent_rank,
    * cume_dist over order totals per status — the percentile-style
    * windows x_window_funcs doesn't cover. Both engines share the
    * definitions (percent_rank = (rank-1)/(n-1), cume_dist = #peers≤ /
    * n, ntile = equal buckets with remainder to the front); ordering
    * carries an id tie-break so rank functions see identical peer
    * groups. */
  def xWindowRanks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .where(col("o_orderkey") % 97 === 0)
      .select(col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderstatus", "o_orderkey")
  }
  val windowRanksSql: String =
    """SELECT o_orderstatus, o_orderkey,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM orders WHERE o_orderkey % 97 = 0
      |WINDOW w AS (PARTITION BY o_orderstatus
      |  ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("ts_resample_ffill", tsResampleFfill, tsResampleSql),
    Gate("ts_interpolate", tsInterpolate, tsInterpolateSql),
    Gate("x_window_ranks", xWindowRanks, windowRanksSql),
    Gate("x_anomaly_zscore", xAnomalyZscore, anomalySql),
    Gate("x_funnel", xFunnel, funnelSql),
    Gate("x_cohort_retention", xCohortRetention, cohortSql),
    Gate("x_bag_ops", xBagOps, bagOpsSql),
    Gate("x_null_safe_join", xNullSafeJoin, nullSafeJoinSql),
    Gate("x_topk_per_group", xTopkPerGroup, topkSql),
    Gate("x_rollup", xRollup, rollupSql),
    Gate("x_window_funcs", xWindowFuncs, windowFuncsSql),
    Gate("x_rolling_range", xRollingRange, rollingRangeSql),
    Gate("x_exists_subquery", xExistsSubquery, existsSql),
    Gate("x_pivot", xPivot, pivotSql),
    Gate("x_unpivot", xUnpivot, unpivotSql),
    Gate("x_semi_anti", xSemiAnti, semiAntiSql),
    Gate("x_distinct_agg", xDistinctAgg, distinctSql),
    Gate("x_cube", xCube, cubeSql),
    Gate("x_intersect_except", xIntersectExcept, intersectExceptSql),
    Gate("x_grouping_sets", xGroupingSets, groupingSetsSql))
}
