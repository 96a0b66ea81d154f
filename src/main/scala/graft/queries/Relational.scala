package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Gate
import graft.core.Tables

/** Core relational workload: aggregation, joins, windowed top-k, unions.
  *
  * Derived from the reference's operator inventory (SURVEY.md §2.3-§2.6):
  * equi-joins (J1-J12 are all equi-joins, `hive_metastore_migration.py:
  * 564-566,613-615,648-656`), grouped aggregation (A1-A5), top-1-per-group
  * (O3, `odl_snapshot_redshift.py:67-92`), union folds (U1,
  * `export_from_datacatalog.py:87-89`) — re-expressed over the testdata
  * star schema so every operator is oracle-checkable.
  *
  * Scale notes: every query here keeps filters/projections at the scan,
  * aggregates with map-side partial aggregation, and broadcasts
  * dimension tables (region/nation are O(10^2) rows at any SF; Spark's
  * autoBroadcastJoinThreshold handles them, `broadcast()` pins the small
  * side where the optimizer can't see sizes through a derived subtree).
  * All outputs are deterministically ordered and rounded so result
  * hashes are stable across engines and partitionings.
  */
object Relational extends graft.QueryModule {

  private def round2(c: org.apache.spark.sql.Column) = round(c, 2)

  /** Flagship: TPC-H Q1-style pricing summary (the reference's promote
    * jobs end in exactly this groupBy-agg shape over promoted parquet). */
  def q1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round2(sum("l_quantity")).as("sum_qty"),
        round2(sum("l_extendedprice")).as("sum_base_price"),
        round2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        round2(avg("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** J1-style inner join chain with broadcast dims + grouped revenue. */
  def q3RevenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val q3Sql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** O3: newest row per group (reference: newest snapshot per cluster,
    * `odl_snapshot_redshift.py:67-92`) as a rank-1 window — the scalable
    * form of the reference's driver-side python sort+loop. */
  def o3LatestEventPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("event_type").as("latest_type"), round(col("value"), 2).as("latest_value"))
      .orderBy("user_id")
  }

  val o3Sql: String =
    """SELECT user_id, event_id AS latest_event_id,
      |  event_type AS latest_type, round(value, 2) AS latest_value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** U1: per-category split then union fold (reference folds per-database
    * entity DataFrames with a loop of unions). unionByName keeps it
    * schema-safe; Catalyst collapses the fold into one Union node. */
  def u1UnionFold(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    val types = Seq("click", "view", "purchase", "signup", "error")
    val parts = types.map(t => ev.where(col("event_type") === t))
    val folded = parts.reduce(_ unionByName _)
    folded.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("event_type")
  }

  val u1Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE event_type IN ('click','view','purchase','signup','error')
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** A7: scalar max-id aggregation (reference computes next-PK start ids,
    * `hive_metastore_migration.py:1205-1225`) — as one distributed agg,
    * not an rdd.max() round trip. */
  def a7MaxIds(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.agg(
      max("o_orderkey").as("max_orderkey"),
      min("o_orderkey").as("min_orderkey"),
      count(lit(1)).as("n_rows"))
  }

  val a7Sql: String =
    """SELECT max(o_orderkey) AS max_orderkey, min(o_orderkey) AS min_orderkey,
      |  count(*) AS n_rows
      |FROM orders""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    * this schema: for finished orders, the suppliers whose line
    * shipped >90 days after the order date, on MULTI-supplier orders
    * where they were the ONLY late one — a correlated EXISTS + NOT
    * EXISTS pair that Catalyst must decorrelate into a semi and an
    * anti join on (orderkey, suppkey≠) compound conditions. The
    * optimizer-stress gate of the relational suite: four base tables,
    * two correlated subqueries, one broadcast dim. */
  def q21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val late = li.as("l1")
      .join(Tables.orders(spark, sfDir)
          .where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l1.l_orderkey") === col("o_orderkey"))
      .where(col("l1.l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS"))
    val others = li.select(col("l_orderkey").as("o2_orderkey"),
      col("l_suppkey").as("o2_suppkey"), col("l_shipdate").as("o2_shipdate"))
    val waiting = late
      // EXISTS: some other supplier shares the order
      .join(others, col("l1.l_orderkey") === col("o2_orderkey") &&
        col("l1.l_suppkey") =!= col("o2_suppkey"), "left_semi")
      // NOT EXISTS: no OTHER supplier was also late on it
      .join(others.withColumnRenamed("o2_shipdate", "o3_shipdate")
          .withColumnRenamed("o2_orderkey", "o3_orderkey")
          .withColumnRenamed("o2_suppkey", "o3_suppkey"),
        col("l1.l_orderkey") === col("o3_orderkey") &&
          col("l1.l_suppkey") =!= col("o3_suppkey") &&
          col("o3_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_anti")
    waiting
      .join(Tables.supplier(spark, sfDir),
        col("l1.l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }
  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE CAST(l1.l_shipdate AS TIMESTAMP) >
      |    CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND CAST(l3.l_shipdate AS TIMESTAMP) >
      |        CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("q1_pricing_summary", q1, q1Sql),
    Gate("q3_revenue_by_nation", q3RevenueByNation, q3Sql),
    Gate("q21_waiting_suppliers", q21WaitingSuppliers, q21Sql),
    Gate("o3_latest_per_group", o3LatestEventPerUser, o3Sql),
    Gate("u1_union_fold", u1UnionFold, u1Sql),
    Gate("a7_max_ids", a7MaxIds, a7Sql))
}
