package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.catalog._
import graft.ops.AggOps

/** Oracle-checked queries for the catalog-migration module (SURVEY.md
  * §3.2/§3.3, ops J1/J3/J5-J8, A1-A4, F7/F9/F12/F13, F11→posexplode).
  * Nested entities are canonicalized to scalar CSV strings so the
  * DuckDB oracle (which rebuilds the same relational fixtures via CTEs)
  * hash-matches field-for-field. */
object CatalogQueries extends graft.QueryModule {

  /** Table entities canonicalized to scalar CSV columns — the one
    * form `catTablesSql` rebuilds. */
  private def canonicalTables(tables: DataFrame): DataFrame =
    tables.select(
      col("name"), col("database"), col("owner"), col("createTime"),
      col("storageDescriptor.location").as("location"),
      col("storageDescriptor.serdeInfo.serializationLibrary").as("serde_lib"),
      array_join(transform(col("storageDescriptor.columns"),
        c => concat(c.getField("name"), lit(":"), c.getField("type"))), ",").as("cols_csv"),
      array_join(col("storageDescriptor.skewedColumnNames"), ",").as("skewed_csv"),
      AggOps.mapToCanonicalString(col("parameters")).as("params_csv"),
      array_join(transform(col("partitionKeys"),
        k => concat(k.getField("name"), lit("("), k.getField("type"), lit(")"))), ",").as("partkeys_csv"))
      .orderBy("name")

  /** Forward assembly of table entities, canonicalized. */
  def catTablesAssemble(spark: SparkSession, sfDir: String): DataFrame =
    canonicalTables(new CatalogFixtures.Bundle(spark, sfDir).tablesT)
  val catTablesSql: String = CatalogFixtures.duckCtes +
    """SELECT t.tbl_name AS name, d.name AS database, t.owner,
      |  strftime(make_timestamp(CAST(t.create_time AS BIGINT) * 1000000),
      |    '%b %d, %Y %I:%M:%S %p') AS createTime,
      |  regexp_replace(s.location, '^s3[an]://', 's3://') AS location,
      |  sr.slib AS serde_lib,
      |  coalesce(c.cols_csv, '') AS cols_csv,
      |  coalesce(sk.skewed_csv, '') AS skewed_csv,
      |  coalesce(p.params_csv, '') AS params_csv,
      |  coalesce(pk.partkeys_csv, '') AS partkeys_csv
      |FROM tbls t
      |JOIN dbs d ON t.db_id = d.db_id
      |JOIN sds s ON t.sd_id = s.sd_id
      |JOIN serdes sr ON s.serde_id = sr.serde_id
      |LEFT JOIN (SELECT cd_id, string_agg(column_name || ':' || type_name,
      |    ',' ORDER BY integer_idx) AS cols_csv
      |  FROM columns_v2 GROUP BY 1) c ON s.cd_id = c.cd_id
      |LEFT JOIN (SELECT sd_id, string_agg(skewed_col_name, ',' ORDER BY integer_idx)
      |    AS skewed_csv FROM skewed_col_names GROUP BY 1) sk ON s.sd_id = sk.sd_id
      |LEFT JOIN (SELECT tbl_id, string_agg(param_key || '=' || param_value,
      |    ',' ORDER BY param_key) AS params_csv
      |  FROM tbl_params GROUP BY 1) p ON t.tbl_id = p.tbl_id
      |LEFT JOIN (SELECT tbl_id, string_agg(pkey_name || '(' || pkey_type || ')',
      |    ',' ORDER BY integer_idx) AS partkeys_csv
      |  FROM partition_keys GROUP BY 1) pk ON t.tbl_id = pk.tbl_id
      |ORDER BY name""".stripMargin

  /** Forward assembly of database entities (params map, fills, s3
    * normalization). */
  def catDatabasesAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    f.databasesT.select(
      col("name"), col("description"), col("locationUri"),
      AggOps.mapToCanonicalString(col("parameters")).as("params_csv"))
      .orderBy("name")
  }
  val catDatabasesSql: String = CatalogFixtures.duckCtes +
    """SELECT d.name, d.db_desc AS description,
      |  regexp_replace(d.db_location_uri, '^s3[an]://', 's3://') AS locationUri,
      |  coalesce(p.params_csv, '') AS params_csv
      |FROM dbs d
      |LEFT JOIN (SELECT db_id, string_agg(param_key || '=' || param_value,
      |    ',' ORDER BY param_key) AS params_csv
      |  FROM db_params GROUP BY 1) p ON d.db_id = p.db_id
      |ORDER BY d.name""".stripMargin

  /** Forward assembly of partition entities with F12 partition names. */
  def catPartitionsAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    f.partitionsT.select(
      col("PART_ID").as("part_id"), col("database"), col("table"),
      array_join(col("values"), ",").as("vals_csv"),
      col("partitionName"), col("creationTime"))
      .orderBy("part_id")
  }
  val catPartitionsSql: String = CatalogFixtures.duckCtes +
    """SELECT pt.part_id, d.name AS database, t.tbl_name AS "table",
      |  v.vals_csv,
      |  pk.partkeys_csv || '=' || v.vals_csv AS partitionName,
      |  strftime(make_timestamp(CAST(pt.create_time AS BIGINT) * 1000000),
      |    '%b %d, %Y %I:%M:%S %p') AS creationTime
      |FROM parts pt
      |JOIN tbls t ON pt.tbl_id = t.tbl_id
      |JOIN dbs d ON t.db_id = d.db_id
      |JOIN (SELECT part_id, string_agg(part_key_val, ',' ORDER BY integer_idx)
      |    AS vals_csv FROM partition_key_vals GROUP BY 1) v ON pt.part_id = v.part_id
      |JOIN (SELECT tbl_id, string_agg(pkey_name || '(' || pkey_type || ')',
      |    ',' ORDER BY integer_idx) AS partkeys_csv
      |  FROM partition_keys GROUP BY 1) pk ON t.tbl_id = pk.tbl_id
      |ORDER BY pt.part_id""".stripMargin

  /** Nested-schema JSON fidelity (SURVEY §7.4-4): write the table
    * entities as JSON (W4), read back with the pinned nested schema
    * (S7), canonicalize — must hash-match the same oracle as the
    * direct assembly, proving empty-array/empty-map/nested-struct
    * roundtrip fidelity. */
  def catEntitiesJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.core.GraftSession.scratch("cat-json")
    val entities = new CatalogFixtures.Bundle(spark, sfDir).tablesT
    graft.sources.Sinks.jsonOverwrite(entities, dir)
    canonicalTables(graft.sources.Sinks.readJson(spark, entities.schema, dir))
  }

  /** Reverse: decompose assembled tables back into COLUMNS_V2 rows —
    * must reproduce the relational source exactly. */
  def catDecomposeColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    ReverseMigration.columnsFromTables(f.tablesT)
      .orderBy("TBL_ID", "INTEGER_IDX")
  }
  val catDecomposeColumnsSql: String = CatalogFixtures.duckCtes +
    """SELECT t.tbl_id AS TBL_ID, c.integer_idx AS INTEGER_IDX,
      |  c.column_name AS COLUMN_NAME, c.type_name AS TYPE_NAME
      |FROM tbls t JOIN sds s ON t.sd_id = s.sd_id
      |JOIN columns_v2 c ON s.cd_id = c.cd_id
      |ORDER BY 1, 2""".stripMargin

  /** Reverse: decompose parameters maps back into param rows. */
  def catDecomposeParams(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    ReverseMigration.paramsFromEntities(f.tablesT, "TBL_ID")
      .orderBy("TBL_ID", "PARAM_KEY")
  }
  val catDecomposeParamsSql: String = CatalogFixtures.duckCtes +
    """SELECT tbl_id AS TBL_ID, param_key AS PARAM_KEY, param_value AS PARAM_VALUE
      |FROM tbl_params ORDER BY 1, 2""".stripMargin

  /** Reverse: partition values back to idx'd rows (posexplode ~ F11). */
  def catDecomposeKeyVals(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    ReverseMigration.partitionKeyVals(f.partitionsT)
      .orderBy("PART_ID", "INTEGER_IDX")
  }
  val catDecomposeKeyValsSql: String = CatalogFixtures.duckCtes +
    """SELECT part_id AS PART_ID, integer_idx AS INTEGER_IDX,
      |  part_key_val AS PART_KEY_VAL
      |FROM partition_key_vals ORDER BY 1, 2""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("cat_databases_assemble", catDatabasesAssemble, catDatabasesSql),
    Gate("cat_tables_assemble", catTablesAssemble, catTablesSql),
    Gate("cat_entities_json_roundtrip", catEntitiesJsonRoundtrip,
      catTablesSql), // same canonical form
    Gate("cat_partitions_assemble", catPartitionsAssemble, catPartitionsSql),
    Gate("cat_decompose_columns", catDecomposeColumns, catDecomposeColumnsSql),
    Gate("cat_decompose_params", catDecomposeParams, catDecomposeParamsSql),
    Gate("cat_decompose_keyvals", catDecomposeKeyVals, catDecomposeKeyValsSql))
}
