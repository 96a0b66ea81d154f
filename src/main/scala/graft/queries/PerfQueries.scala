package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.perf.Layout

/** Oracle-checked queries for the physical-layout techniques: results
  * must equal the plain-join semantics; the plan-shape guarantees
  * (no exchange under bucketed join) are asserted in PerfSpec. */
object PerfQueries extends graft.QueryModule {

  /** Bucketed co-located join: lineitem ⋈ orders both bucketed on the
    * order key; broadcast disabled so the bucketed sort-merge path is
    * what actually runs. */
  def perfBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("bucketed")
    val liT = GraftSession.uniqueName("graft_bl")
    val oT = GraftSession.uniqueName("graft_bo")
    spark.sql(s"DROP TABLE IF EXISTS $liT")
    spark.sql(s"DROP TABLE IF EXISTS $oT")
    Layout.saveBucketed(Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice", "l_discount"),
      liT, "l_orderkey", 8, s"$dir/li")
    Layout.saveBucketed(Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
      oT, "l_orderkey", 8, s"$dir/o")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.table(liT).join(spark.table(oT), "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy("o_orderstatus")
        // force evaluation under the no-broadcast conf before restoring
        .localCheckpoint(eager = true)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
  val bucketedSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Salted skew join: synthetic hot key (80% of rows) joined to a
    * small dim through deterministic salting; results equal the plain
    * join. */
  def perfSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = Tables.lineitem(spark, sfDir)
      .withColumn("hot_key",
        when(col("l_orderkey") % 10 < 8, lit(0L))
          .otherwise(col("l_orderkey") % 100))
    val dim = Tables.nation(spark, sfDir)
      .select((col("n_nationkey") * 4).cast("long").as("hot_key"),
        col("n_name").as("dim_name"))
    Layout.saltedJoin(fact, dim, "hot_key", "l_orderkey", saltBuckets = 8)
      .groupBy("dim_name")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("dim_name")
  }
  val saltedSql: String =
    """WITH fact AS (
      |  SELECT *, CASE WHEN l_orderkey % 10 < 8 THEN 0
      |    ELSE l_orderkey % 100 END AS hot_key FROM lineitem),
      |dim AS (
      |  SELECT CAST(n_nationkey * 4 AS BIGINT) AS hot_key, n_name AS dim_name
      |  FROM nation)
      |SELECT dim_name, count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM fact JOIN dim USING (hot_key)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order (Morton) clustered write of events on (user_id, ⌊value⌋):
    * content round-trips exactly (this oracle); the data-skipping
    * property — every output file covers a compact rectangle in both
    * dimensions — is asserted in PerfSpec. */
  def perfZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("zorder")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("vi"))
    Layout.zorderWrite(ev, "user_id", "vi", nFiles = 8, path = dir)
    val Seq((uMin, uMax), (vMin, vMax)) = Layout.bounds(ev, "user_id", "vi")
    spark.read.parquet(dir)
      .withColumn("z", Layout.zValue(
        Layout.normalize16(col("user_id"), uMin, uMax),
        Layout.normalize16(col("vi"), vMin, vMax)))
      .orderBy("event_id")
  }
  val zorderSql: String = {
    val nu = Layout.normalize16Sql("user_id", "umin", "umax")
    val nv = Layout.normalize16Sql("vi", "vmin", "vmax")
    s"""WITH s AS (SELECT event_id, user_id, CAST(FLOOR(value) AS BIGINT) AS vi
       |           FROM events),
       |m AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
       |             min(vi) AS vmin, max(vi) AS vmax FROM s)
       |SELECT event_id, user_id, vi,
       |  ${Layout.zValueSql(nu, nv)} AS z
       |FROM s, m
       |ORDER BY event_id""".stripMargin
  }

  /** Dynamic partition pruning: events written PARTITIONED BY date,
    * joined to a date dimension carrying a selective non-partition
    * predicate (day-of-week = Monday). The partition filter is only
    * knowable at RUNTIME from the dim side, so a correct plan injects
    * a dynamicpruning subquery into the fact scan and reads ~1/7 of
    * the partitions (PerfSpec asserts the pruning expression on the
    * executed plan); the oracle computes the same join statically.
    * This is the r5 static-pruning gate's big sibling — the shape
    * that decides whether a 100 TB date-partitioned fact table reads
    * 100 TB or 14 TB on a filtered dim join. */
  def perfDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("dpp")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"), col("ts").cast("date").as("dt"))
    ev.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val dimDates = ev.select(col("dt")).distinct()
      .withColumn("dow", dayofweek(col("dt")))
    spark.read.parquet(dir)
      .join(broadcast(dimDates.where(col("dow") === 2)), Seq("dt"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        countDistinct("dt").as("n_days"))
  }
  val dppSql: String =
    """WITH ev AS (
      |  SELECT event_id, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt
      |  FROM events)
      |SELECT count(*) AS n, round(sum(value), 2) AS total,
      |  count(DISTINCT dt) AS n_days
      |FROM ev WHERE dayofweek(dt) = 1""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("perf_dpp_join", perfDppJoin, dppSql),
    Gate("perf_bucketed_join", perfBucketedJoin, bucketedSql),
    Gate("perf_salted_join", perfSaltedJoin, saltedSql),
    Gate("perf_zorder", perfZorder, zorderSql))
}
