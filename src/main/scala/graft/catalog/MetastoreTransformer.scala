package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{AggOps, ColumnOps, JoinOps}
import graft.functions.{StringFns, TimeFns}

/** Forward catalog migration: relational Hive-metastore tables →
  * nested Database/Table/Partition entity documents (SURVEY.md §3.2;
  * reference `HiveMetastoreTransformer.transform`
  * hive_metastore_migration.py:753-789).
  *
  * Unlike the reference — whose RDD hops (A1/A3/A8) split each entity
  * into several re-planned ExistingRDD segments — every entity here is
  * ONE Catalyst plan: the grouped assemblies are declarative aggs
  * (AggOps), so predicate pushdown and AQE see the whole lineage, and
  * each entity costs exactly one shuffle per grouped input table, all
  * on the same id keys. Metastore-scale inputs (even for a 100 TB lake,
  * catalogs are ~10^6 partitions) broadcast comfortably into the final
  * joins.
  */
object MetastoreTransformer {

  /** Databases: params map (A1), desc/location fills (F13), prefix (F8).
    * Reference :575-590 + join_with_params :339-342. */
  def databases(dbs: DataFrame, dbParams: DataFrame, prefix: String = ""): DataFrame = {
    val params = AggOps.kvPairsToMap(dbParams, "DB_ID", "PARAM_KEY", "PARAM_VALUE", "parameters")
    dbs.join(params, Seq("DB_ID"), "left_outer")
      .select(
        col("DB_ID"),
        StringFns.addPrefix(col("NAME"), prefix).as("name"),
        ColumnOps.fillEmptyString(col("DB_DESC")).as("description"),
        StringFns.normalizeS3Scheme(
          ColumnOps.fillEmptyString(col("DB_LOCATION_URI"))).as("locationUri"),
        coalesce(col("parameters"), map()).as("parameters"))
      .na.drop("any", Seq("name"))
  }

  /** Storage descriptors: idx-sorted columns (A3), serde struct (J3),
    * skewed names (A3), s3 normalize (F7), fills (F13).
    * Reference :602-680. */
  def storageDescriptors(sds: DataFrame, serdes: DataFrame, columnsV2: DataFrame,
                         skewedColNames: DataFrame): DataFrame = {
    val cols = AggOps.collectSortedByIdx(
      columnsV2, "CD_ID", "INTEGER_IDX",
      struct(col("COLUMN_NAME").as("name"), col("TYPE_NAME").as("type")),
      "columns")
    val skewed = AggOps.collectSortedByIdx(
      skewedColNames, "SD_ID", "INTEGER_IDX", col("SKEWED_COL_NAME"),
      "skewedColumnNames")
    val serdeInfo = serdes.select(col("SERDE_ID"),
      struct(col("NAME").as("name"), col("SLIB").as("serializationLibrary")).as("serdeInfo"))
    sds
      .join(serdeInfo, Seq("SERDE_ID"), "left_outer")
      .join(cols, Seq("CD_ID"), "left_outer")
      .join(skewed, Seq("SD_ID"), "left_outer")
      .select(
        col("SD_ID"),
        StringFns.normalizeS3Scheme(ColumnOps.fillEmptyString(col("LOCATION"))).as("location"),
        col("INPUT_FORMAT").as("inputFormat"),
        col("OUTPUT_FORMAT").as("outputFormat"),
        col("serdeInfo"),
        ColumnOps.fillEmptyArray(col("columns"), "struct<name:string,type:string>").as("columns"),
        ColumnOps.fillEmptyArray(col("skewedColumnNames"), "string").as("skewedColumnNames"))
  }

  /** [[storageDescriptors]] with its skewed names moved into a full
    * skewedInfo struct, plus the J4/A4 skewed values and location map
    * joined through STRING_LIST_ID (reference
    * `transform_skewed_values_and_loc_map`
    * hive_metastore_migration.py:568-617). Per SD:
    *  - skewedColumnValues = the SD's value lists flattened in
    *    STRING_LIST_ID order (the reference's aggregateByKey
    *    append/extend);
    *  - skewedColumnValueLocationMaps = encoded-list-string → LOCATION.
    * Each field is filled on its own (F13): an SD without loc-map rows
    * gets `[]`/an empty map, whatever its names.
    * The encoded key uses the Glue storage format `<n>%['a', 'b']` that
    * F6 (`udf_string_list_str_to_list`) decodes — the reference's F5
    * per-element encoding and its F6 decoder are mutually inconsistent
    * (both are kept faithfully as functions; see Codecs.scala), so the
    * roundtrippable form is the one the decoder accepts. */
  def storageDescriptorsWithSkew(sds: DataFrame, serdes: DataFrame,
                                 columnsV2: DataFrame, skewedColNames: DataFrame,
                                 skewedStringListValues: DataFrame,
                                 skewedColValueLocMap: DataFrame): DataFrame = {
    val base = storageDescriptors(sds, serdes, columnsV2, skewedColNames)
    val lists = AggOps.collectSortedByIdx(
      skewedStringListValues, "STRING_LIST_ID", "INTEGER_IDX",
      col("STRING_LIST_VALUE"), "vals")
    val encoded = lists.select(col("STRING_LIST_ID"), col("vals"),
      concat(size(col("vals")).cast("string"), lit("%["),
        array_join(transform(col("vals"), v => concat(lit("'"), v, lit("'"))), ", "),
        lit("]")).as("encodedStr"))
    val perSd = skewedColValueLocMap
      .join(encoded, col("STRING_LIST_ID_KID") === col("STRING_LIST_ID"), "inner")
      .groupBy("SD_ID").agg(
        map_from_entries(array_sort(
          collect_list(struct(col("encodedStr"), col("LOCATION")))))
          .as("skewedColumnValueLocationMaps"),
        flatten(array_sort(
          collect_list(struct(col("STRING_LIST_ID"), col("vals"))))
          .getField("vals")).as("skewedColumnValues"))
    base.join(perSd, Seq("SD_ID"), "left_outer")
      .select(base.columns.filter(_ != "skewedColumnNames").map(col).toSeq :+
        struct(col("skewedColumnNames"),
          ColumnOps.fillEmptyArray(col("skewedColumnValues"), "string")
            .as("skewedColumnValues"),
          coalesce(col("skewedColumnValueLocationMaps"),
            map().cast("map<string,string>")).as("skewedColumnValueLocationMaps"))
          .as("skewedInfo"): _*)
  }

  /** Tables: dbs⋈tbls (J1), params (A2), SD as one struct column (J3),
    * idx-sorted partitionKeys (A3), Gson timestamps (F9), type tag
    * (F17). Reference :682-706. */
  def tables(dbsTransformed: DataFrame, tbls: DataFrame, tblParams: DataFrame,
             sdsTransformed: DataFrame, partitionKeys: DataFrame): DataFrame = {
    val params = AggOps.kvPairsToMap(tblParams, "TBL_ID", "PARAM_KEY", "PARAM_VALUE", "parameters")
    val pkeys = AggOps.collectSortedByIdx(
      partitionKeys, "TBL_ID", "INTEGER_IDX",
      struct(col("PKEY_NAME").as("name"), col("PKEY_TYPE").as("type")),
      "partitionKeys")
    val dbNames = dbsTransformed.select(col("DB_ID"), col("name").as("database"))
    tbls
      .join(dbNames, Seq("DB_ID"), "inner")
      .join(params, Seq("TBL_ID"), "left_outer")
      .join(pkeys, Seq("TBL_ID"), "left_outer")
      .join(sdStruct(sdsTransformed), col("SD_ID") === col("__sd_id"), "left_outer")
      .select(
        col("TBL_ID"), col("database"),
        col("TBL_NAME").as("name"),
        col("OWNER").as("owner"),
        TimeFns.utcSecondsToIso8601(col("CREATE_TIME")).as("createTime"),
        col("TBL_TYPE").as("tableType"),
        coalesce(col("parameters"), map()).as("parameters"),
        ColumnOps.fillEmptyArray(col("partitionKeys"),
          "struct<name:string,type:string>").as("partitionKeys"),
        col("storageDescriptor"),
        lit("table").as("type"))
      .na.drop("any", Seq("name", "database"))
  }

  /** Pack an SD entity DataFrame into one struct column (J3) — every
    * column except the SD_ID key, so skew-enriched SDs carry their
    * skewedInfo through without a signature change. */
  private def sdStruct(sdsTransformed: DataFrame): DataFrame =
    sdsTransformed.select(col("SD_ID").as("__sd_id"),
      struct(sdsTransformed.columns.toSeq.filter(_ != "SD_ID").map(col): _*)
        .as("storageDescriptor"))

  /** Partitions: idx-sorted values (A3), db/table names (J8), Gson
    * timestamps. Reference :708-751. */
  def partitions(partitionsRel: DataFrame, partitionKeyVals: DataFrame,
                 tablesTransformed: DataFrame): DataFrame =
    assemblePartitions(partitionsRel, partitionKeyVals, tablesTransformed)

  /** [[partitions]] plus each partition's own SD packed as a struct
    * (J3; the metastore model gives every partition an SDS row;
    * reference extract_sds :1010-1024 relies on it for the reverse
    * path). */
  def partitionsWithSd(partitionsRel: DataFrame, partitionKeyVals: DataFrame,
                       tablesTransformed: DataFrame,
                       sdsTransformed: DataFrame): DataFrame =
    assemblePartitions(partitionsRel, partitionKeyVals, tablesTransformed,
        col("SD_ID"))
      .join(sdStruct(sdsTransformed), col("SD_ID") === col("__sd_id"), "left_outer")
      .drop("SD_ID", "__sd_id")

  private def assemblePartitions(partitionsRel: DataFrame, partitionKeyVals: DataFrame,
                                 tablesTransformed: DataFrame, keep: Column*): DataFrame = {
    val vals = AggOps.collectSortedByIdx(
      partitionKeyVals, "PART_ID", "INTEGER_IDX", col("PART_KEY_VAL"), "values")
    val tblNames = tablesTransformed.select(col("TBL_ID"),
      col("database"), col("name").as("table"), col("partitionKeys"))
    partitionsRel
      .join(vals, Seq("PART_ID"), "left_outer")
      .join(tblNames, Seq("TBL_ID"), "inner")
      .select(Seq(
        col("PART_ID"),
        col("database"), col("table"),
        ColumnOps.fillEmptyArray(col("values"), "string").as("values"),
        TimeFns.utcSecondsToIso8601(col("CREATE_TIME")).as("creationTime"),
        StringFns.partitionName(col("partitionKeys"), col("values")).as("partitionName"),
        lit("partition").as("type")) ++ keep: _*)
  }
}
