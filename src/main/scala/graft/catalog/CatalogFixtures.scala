package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic relational metastore-shaped tables derived from the
  * TPC-H testdata, mirroring the Hive metastore JDBC model the
  * reference migrates (19 tables, `hive_metastore_migration.py:
  * 1289-1310`): DBS / DATABASE_PARAMS / TBLS / TABLE_PARAMS / SDS /
  * SERDES / COLUMNS_V2 / SKEWED_COL_NAMES / PARTITIONS /
  * PARTITION_KEY_VALS / PARTITION_KEYS.
  *
  * Every derivation is a pure column expression so the DuckDB oracle
  * can rebuild the identical tables from the same parquet inputs.
  */
object CatalogFixtures {

  /** DBS: one database per region. */
  def dbs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).select(
      col("r_regionkey").cast("long").as("DB_ID"),
      lower(regexp_replace(col("r_name"), " ", "_")).as("NAME"),
      concat(lit("s3a://lake/"), lower(regexp_replace(col("r_name"), " ", "_")))
        .as("DB_LOCATION_URI"),
      concat(lit("owner_"), col("r_regionkey")).as("OWNER_NAME"),
      concat(lit("db "), lower(col("r_name"))).as("DB_DESC"))

  /** DATABASE_PARAMS: one param row per nation against its region-db. */
  def dbParams(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir).select(
      col("n_regionkey").cast("long").as("DB_ID"),
      concat(lit("p_"), lower(col("n_name"))).as("PARAM_KEY"),
      col("n_nationkey").cast("string").as("PARAM_VALUE"))

  /** TBLS: one table per nation. */
  def tbls(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir).select(
      col("n_nationkey").cast("long").as("TBL_ID"),
      col("n_regionkey").cast("long").as("DB_ID"),
      lower(col("n_name")).as("TBL_NAME"),
      (col("n_nationkey") + 100).cast("long").as("SD_ID"),
      (lit(1500000000L) + col("n_nationkey") * 86400).as("CREATE_TIME"),
      concat(lit("hive_"), col("n_nationkey")).as("OWNER"),
      lit("EXTERNAL_TABLE").as("TBL_TYPE"))

  /** TABLE_PARAMS: params distributed over tables by suppkey. */
  def tblParams(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir).select(
      (col("s_suppkey") % 25).cast("long").as("TBL_ID"),
      concat(lit("k_"), col("s_suppkey")).as("PARAM_KEY"),
      col("s_name").as("PARAM_VALUE"))

  /** SDS: one storage descriptor per table (SD_ID = TBL_ID + 100) plus
    * one per partition (SD_ID = PART_ID + 1000 — the ids the PARTITIONS
    * fixture already references), mirroring the metastore model where
    * every partition owns an SDS row. */
  def sds(spark: SparkSession, sfDir: String): DataFrame = {
    val tableSds = Tables.nation(spark, sfDir).select(
      (col("n_nationkey") + 100).cast("long").as("SD_ID"),
      (col("n_nationkey") % 5).cast("long").as("CD_ID"),
      concat(lit("s3n://lake/tbl/"), lower(col("n_name"))).as("LOCATION"),
      lit("org.apache.hadoop.mapred.TextInputFormat").as("INPUT_FORMAT"),
      lit("org.apache.hadoop.mapred.TextOutputFormat").as("OUTPUT_FORMAT"),
      lit(false).as("IS_COMPRESSED"),
      lit(-1).as("NUM_BUCKETS"),
      (col("n_nationkey") + 200).cast("long").as("SERDE_ID"))
    val partSds = Tables.orders(spark, sfDir).where(col("o_orderkey") < 200).select(
      (col("o_orderkey") + 1000).cast("long").as("SD_ID"),
      (col("o_orderkey") % 5).cast("long").as("CD_ID"),
      concat(lit("s3a://lake/part/"), col("o_orderkey")).as("LOCATION"),
      lit("org.apache.hadoop.mapred.TextInputFormat").as("INPUT_FORMAT"),
      lit("org.apache.hadoop.mapred.TextOutputFormat").as("OUTPUT_FORMAT"),
      lit(false).as("IS_COMPRESSED"),
      lit(-1).as("NUM_BUCKETS"),
      (col("o_orderkey") + 2000).cast("long").as("SERDE_ID"))
    tableSds.unionByName(partSds)
  }

  /** SERDES: one per table SD and one per partition SD. */
  def serdes(spark: SparkSession, sfDir: String): DataFrame = {
    val tableSerdes = Tables.nation(spark, sfDir).select(
      (col("n_nationkey") + 200).cast("long").as("SERDE_ID"),
      concat(lit("serde_"), col("n_nationkey")).as("NAME"),
      lit("org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe").as("SLIB"))
    val partSerdes = Tables.orders(spark, sfDir).where(col("o_orderkey") < 200).select(
      (col("o_orderkey") + 2000).cast("long").as("SERDE_ID"),
      concat(lit("serde_p"), col("o_orderkey")).as("NAME"),
      lit("org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe").as("SLIB"))
    tableSerdes.unionByName(partSerdes)
  }

  /** COLUMNS_V2: column descriptors spread over 5 CDs, idx-ordered. */
  def columnsV2(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).where(col("p_partkey") < 125).select(
      (col("p_partkey") % 5).cast("long").as("CD_ID"),
      (col("p_partkey") / 5).cast("int").as("INTEGER_IDX"),
      concat(lit("col_"), col("p_partkey")).as("COLUMN_NAME"),
      lower(col("p_type")).as("TYPE_NAME"))

  /** SKEWED_COL_NAMES: one skewed column on each region-indexed SD. */
  def skewedColNames(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).select(
      (col("r_regionkey") + 100).cast("long").as("SD_ID"),
      lit(0).as("INTEGER_IDX"),
      concat(lit("sk_"), col("r_regionkey")).as("SKEWED_COL_NAME"))

  /** SKEWED_STRING_LIST_VALUES: a two-element skewed value list per
    * region (STRING_LIST_ID = 300 + region), idx-ordered. Values are
    * \w+ so the F6 decode guard accepts the encoded form. */
  def skewedStringListValues(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir)
    val a = r.select((col("r_regionkey") + 300).cast("long").as("STRING_LIST_ID"),
      lit(0).as("INTEGER_IDX"), concat(lit("v"), col("r_regionkey"), lit("a")).as("STRING_LIST_VALUE"))
    val b = r.select((col("r_regionkey") + 300).cast("long").as("STRING_LIST_ID"),
      lit(1).as("INTEGER_IDX"), concat(lit("v"), col("r_regionkey"), lit("b")).as("STRING_LIST_VALUE"))
    a.unionByName(b)
  }

  /** SKEWED_COL_VALUE_LOC_MAP: each skewed SD maps its string list to a
    * location (STRING_LIST_ID_KID joins SKEWED_STRING_LIST_VALUES —
    * reference hive_metastore_migration.py:580-600). */
  def skewedColValueLocMap(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).select(
      (col("r_regionkey") + 100).cast("long").as("SD_ID"),
      (col("r_regionkey") + 300).cast("long").as("STRING_LIST_ID_KID"),
      concat(lit("s3n://lake/skew/"), col("r_regionkey")).as("LOCATION"))

  /** PARTITIONS: partitions of the first 200 orderkeys, round-robin
    * over the 25 tables. */
  def partitions(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).where(col("o_orderkey") < 200).select(
      col("o_orderkey").cast("long").as("PART_ID"),
      (col("o_orderkey") % 25).cast("long").as("TBL_ID"),
      (lit(1600000000L) + col("o_orderkey")).as("CREATE_TIME"),
      (col("o_orderkey") + 1000).cast("long").as("SD_ID"))

  /** PARTITION_KEY_VALS: (year, month) values per partition, idx 0/1. */
  def partitionKeyVals(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).where(col("o_orderkey") < 200)
    val y = o.select(col("o_orderkey").cast("long").as("PART_ID"),
      lit(0).as("INTEGER_IDX"), year(col("o_orderdate")).cast("string").as("PART_KEY_VAL"))
    val m = o.select(col("o_orderkey").cast("long").as("PART_ID"),
      lit(1).as("INTEGER_IDX"), month(col("o_orderdate")).cast("string").as("PART_KEY_VAL"))
    y.unionByName(m)
  }

  /** PARTITION_KEYS: every table partitioned by (year int, month int). */
  def partitionKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tbls(spark, sfDir).select("TBL_ID")
    val y = t.select(col("TBL_ID"), lit(0).as("INTEGER_IDX"),
      lit("year").as("PKEY_NAME"), lit("int").as("PKEY_TYPE"))
    val m = t.select(col("TBL_ID"), lit(1).as("INTEGER_IDX"),
      lit("month").as("PKEY_NAME"), lit("int").as("PKEY_TYPE"))
    y.unionByName(m)
  }

  /** The relational fixtures of one sf dir and the forward entities
    * over them, each built on first use, so a gate reads only the
    * tables behind the entities it touches. The `*WithSkew`/`WithSd`
    * flavour is the one the reverse migration consumes: every SD
    * carries a full skewedInfo struct and every partition its own SD. */
  class Bundle(spark: SparkSession, sfDir: String) {
    lazy val dbs: DataFrame = CatalogFixtures.dbs(spark, sfDir)
    lazy val dbParams: DataFrame = CatalogFixtures.dbParams(spark, sfDir)
    lazy val tbls: DataFrame = CatalogFixtures.tbls(spark, sfDir)
    lazy val tblParams: DataFrame = CatalogFixtures.tblParams(spark, sfDir)
    lazy val sds: DataFrame = CatalogFixtures.sds(spark, sfDir)
    lazy val serdes: DataFrame = CatalogFixtures.serdes(spark, sfDir)
    lazy val columnsV2: DataFrame = CatalogFixtures.columnsV2(spark, sfDir)
    lazy val skewed: DataFrame = CatalogFixtures.skewedColNames(spark, sfDir)
    lazy val skewedVals: DataFrame = CatalogFixtures.skewedStringListValues(spark, sfDir)
    lazy val skewedLocMap: DataFrame = CatalogFixtures.skewedColValueLocMap(spark, sfDir)
    lazy val partitionsRel: DataFrame = CatalogFixtures.partitions(spark, sfDir)
    lazy val partKeyVals: DataFrame = CatalogFixtures.partitionKeyVals(spark, sfDir)
    lazy val partKeys: DataFrame = CatalogFixtures.partitionKeys(spark, sfDir)

    lazy val databasesT: DataFrame = MetastoreTransformer.databases(dbs, dbParams)
    lazy val sdsT: DataFrame =
      MetastoreTransformer.storageDescriptors(sds, serdes, columnsV2, skewed)
    lazy val tablesT: DataFrame =
      MetastoreTransformer.tables(databasesT, tbls, tblParams, sdsT, partKeys)
    lazy val partitionsT: DataFrame =
      MetastoreTransformer.partitions(partitionsRel, partKeyVals, tablesT)

    lazy val sdsWithSkewT: DataFrame = MetastoreTransformer.storageDescriptorsWithSkew(
      sds, serdes, columnsV2, skewed, skewedVals, skewedLocMap)
    lazy val tablesWithSkewT: DataFrame =
      MetastoreTransformer.tables(databasesT, tbls, tblParams, sdsWithSkewT, partKeys)
    lazy val partitionsWithSdT: DataFrame = MetastoreTransformer.partitionsWithSd(
      partitionsRel, partKeyVals, tablesWithSkewT, sdsWithSkewT)
  }

  /** The equivalent DuckDB CTE block, kept in lock-step with the Scala
    * derivations above; prepend to catalog oracle queries. */
  val duckCtes: String =
    """WITH dbs AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS db_id,
      |    lower(replace(r_name, ' ', '_')) AS name,
      |    's3a://lake/' || lower(replace(r_name, ' ', '_')) AS db_location_uri,
      |    'owner_' || r_regionkey AS owner_name,
      |    'db ' || lower(r_name) AS db_desc
      |  FROM region),
      |db_params AS (
      |  SELECT CAST(n_regionkey AS BIGINT) AS db_id,
      |    'p_' || lower(n_name) AS param_key,
      |    CAST(n_nationkey AS VARCHAR) AS param_value
      |  FROM nation),
      |tbls AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS tbl_id,
      |    CAST(n_regionkey AS BIGINT) AS db_id,
      |    lower(n_name) AS tbl_name,
      |    CAST(n_nationkey + 100 AS BIGINT) AS sd_id,
      |    1500000000 + n_nationkey * 86400 AS create_time,
      |    'hive_' || n_nationkey AS owner,
      |    'EXTERNAL_TABLE' AS tbl_type
      |  FROM nation),
      |tbl_params AS (
      |  SELECT CAST(s_suppkey % 25 AS BIGINT) AS tbl_id,
      |    'k_' || s_suppkey AS param_key, s_name AS param_value
      |  FROM supplier),
      |sds AS (
      |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS sd_id,
      |    CAST(n_nationkey % 5 AS BIGINT) AS cd_id,
      |    's3n://lake/tbl/' || lower(n_name) AS location,
      |    'org.apache.hadoop.mapred.TextInputFormat' AS input_format,
      |    'org.apache.hadoop.mapred.TextOutputFormat' AS output_format,
      |    CAST(n_nationkey + 200 AS BIGINT) AS serde_id
      |  FROM nation
      |  UNION ALL
      |  SELECT CAST(o_orderkey + 1000 AS BIGINT),
      |    CAST(o_orderkey % 5 AS BIGINT),
      |    's3a://lake/part/' || o_orderkey,
      |    'org.apache.hadoop.mapred.TextInputFormat',
      |    'org.apache.hadoop.mapred.TextOutputFormat',
      |    CAST(o_orderkey + 2000 AS BIGINT)
      |  FROM orders WHERE o_orderkey < 200),
      |serdes AS (
      |  SELECT CAST(n_nationkey + 200 AS BIGINT) AS serde_id,
      |    'serde_' || n_nationkey AS name,
      |    'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' AS slib
      |  FROM nation
      |  UNION ALL
      |  SELECT CAST(o_orderkey + 2000 AS BIGINT),
      |    'serde_p' || o_orderkey,
      |    'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
      |  FROM orders WHERE o_orderkey < 200),
      |columns_v2 AS (
      |  SELECT CAST(p_partkey % 5 AS BIGINT) AS cd_id,
      |    CAST(p_partkey // 5 AS INT) AS integer_idx,
      |    'col_' || p_partkey AS column_name,
      |    lower(p_type) AS type_name
      |  FROM part WHERE p_partkey < 125),
      |skewed_col_names AS (
      |  SELECT CAST(r_regionkey + 100 AS BIGINT) AS sd_id,
      |    0 AS integer_idx, 'sk_' || r_regionkey AS skewed_col_name
      |  FROM region),
      |parts AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS part_id,
      |    CAST(o_orderkey % 25 AS BIGINT) AS tbl_id,
      |    1600000000 + o_orderkey AS create_time,
      |    CAST(o_orderkey + 1000 AS BIGINT) AS sd_id
      |  FROM orders WHERE o_orderkey < 200),
      |partition_key_vals AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS part_id, 0 AS integer_idx,
      |    CAST(year(o_orderdate) AS VARCHAR) AS part_key_val
      |  FROM orders WHERE o_orderkey < 200
      |  UNION ALL
      |  SELECT CAST(o_orderkey AS BIGINT), 1,
      |    CAST(month(o_orderdate) AS VARCHAR)
      |  FROM orders WHERE o_orderkey < 200),
      |partition_keys AS (
      |  SELECT tbl_id, 0 AS integer_idx, 'year' AS pkey_name, 'int' AS pkey_type FROM tbls
      |  UNION ALL
      |  SELECT tbl_id, 1, 'month', 'int' FROM tbls),
      |skewed_string_list_values AS (
      |  SELECT CAST(r_regionkey + 300 AS BIGINT) AS string_list_id,
      |    0 AS integer_idx, 'v' || r_regionkey || 'a' AS string_list_value
      |  FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey + 300 AS BIGINT), 1, 'v' || r_regionkey || 'b'
      |  FROM region),
      |skewed_col_value_loc_map AS (
      |  SELECT CAST(r_regionkey + 100 AS BIGINT) AS sd_id,
      |    CAST(r_regionkey + 300 AS BIGINT) AS string_list_id_kid,
      |    's3n://lake/skew/' || r_regionkey AS location
      |  FROM region)
      |""".stripMargin
}
