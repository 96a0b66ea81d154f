package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AggOps, IdOps}
import graft.functions.{Codecs, TimeFns}

/** The full reverse catalog migration ("to-metastore"): nested entity
  * documents → the 19 relational Hive-metastore tables, with id
  * continuation against an existing metastore (reference
  * `DataCatalogTransformer.transform`
  * hive_metastore_migration.py:1227-1247 and the FK-ordered export
  * `HiveMetastore.export_to_metastore` :1312-1336).
  *
  * Composition of the already-gated pieces: A7 start ids (max+1 per id
  * column), A8 consecutive id generation (IdOps.generateConsecutiveIds
  * over a DETERMINISTIC sort, so an external oracle can replay ids as
  * row_number arithmetic), the F10/F11/F20 decompositions below
  * (posexplode/map-explode: posexplode replaces the reference's
  * array→index-map UDF + explode emulation `udf_array_to_map`/
  * `generate_idx_for_df` :803-870, keeping ordinal positions without a
  * UDF round trip and inside whole-stage codegen), J9-J12 back-joins,
  * U2 SD union, F6 skewed string-list decode, and the W5 FK-ordered
  * JDBC load.
  *
  * Determinism contract (stronger than the reference, whose zipWithIndex
  * order is partition-incidental): ids are assigned in sorted entity
  * order — DBs by name; tables by (database, name); partitions by
  * (database, table, partitionName); SDs partitions-before-tables (the
  * reference's union order, :1022-1024) then by join key; loc-map rows
  * by (SD_ID, encoded string). Any total order satisfies the
  * reference's "consecutive, unique, > existing max" requirement; a
  * deterministic one makes retrains reproducible and the result
  * verifiable.
  *
  * Scale shape: every step is a narrow projection, posexplode, or an
  * id-keyed join; the only global barriers are the A8 id passes, which
  * the reference semantics force (IdOps notes) — zipWithIndex keeps all
  * partitions parallel except one row-count job. Catalog cardinality
  * (≤10^6-ish partitions even for a 100 TB lake) makes every join here
  * broadcastable.
  */
object ReverseMigration {

  /** FK write order (parents before children) — reference :1312-1336. */
  val writeOrder: Seq[String] = Seq(
    "DBS", "DATABASE_PARAMS", "CDS", "SERDES", "SERDE_PARAMS",
    "COLUMNS_V2", "SDS", "SD_PARAMS", "SKEWED_COL_NAMES",
    "SKEWED_STRING_LIST", "SKEWED_STRING_LIST_VALUES",
    "SKEWED_COL_VALUE_LOC_MAP", "SORT_COLS", "TBLS", "TABLE_PARAMS",
    "PARTITION_KEYS", "PARTITIONS", "PARTITION_PARAMS",
    "PARTITION_KEY_VALS")

  /** Direct FK parents per table (Hive metastore schema). The
    * reference's flat `writeOrder` is ONE topological sort of this
    * graph; the graph itself is what lets the load run level-parallel
    * (r3 VERDICT: 19 serial JDBC jobs → 5 level barriers). */
  val fkParents: Map[String, Seq[String]] = Map(
    "DATABASE_PARAMS" -> Seq("DBS"),
    "SERDE_PARAMS" -> Seq("SERDES"),
    "COLUMNS_V2" -> Seq("CDS"),
    "SDS" -> Seq("CDS", "SERDES"),
    "SD_PARAMS" -> Seq("SDS"),
    "SKEWED_COL_NAMES" -> Seq("SDS"),
    "SKEWED_STRING_LIST_VALUES" -> Seq("SKEWED_STRING_LIST"),
    "SKEWED_COL_VALUE_LOC_MAP" -> Seq("SDS", "SKEWED_STRING_LIST"),
    "SORT_COLS" -> Seq("SDS"),
    "TBLS" -> Seq("DBS", "SDS"),
    "TABLE_PARAMS" -> Seq("TBLS"),
    "PARTITION_KEYS" -> Seq("TBLS"),
    "PARTITIONS" -> Seq("TBLS", "SDS"),
    "PARTITION_PARAMS" -> Seq("PARTITIONS"),
    "PARTITION_KEY_VALS" -> Seq("PARTITIONS"))

  /** A7 (`get_start_id_for_id_name` :1205-1225): max(id)+1 per id
    * column of the existing metastore, 0 for an empty table. Each
    * source table is read once: SDS's three id columns come from one
    * aggregate, so the seven start ids cost five driver actions.
    * Keys are the [[transform]] `startIds` keys. */
  def startIds(existing: CatalogFixtures.Bundle): Map[String, Long] =
    Seq(existing.dbs -> Seq("DB_ID"), existing.tbls -> Seq("TBL_ID"),
        existing.sds -> Seq("SD_ID", "CD_ID", "SERDE_ID"),
        existing.partitionsRel -> Seq("PART_ID"),
        existing.skewedLocMap -> Seq("STRING_LIST_ID_KID"))
      .flatMap { case (df, ids) =>
        val r = df.agg(max(col(ids.head)), ids.tail.map(c => max(col(c))): _*).head()
        ids.indices.map(i => ids(i) -> (if (r.isNullAt(i)) 0L else r.getLong(i) + 1L))
      }.toMap

  /** Decompose storage-descriptor owners' column arrays → COLUMNS_V2
    * rows (reference extract_from_sds_columns :1081-1100 via
    * generate_idx_for_df), keyed by `idCol`. */
  def columnsFromTables(tables: DataFrame, idCol: String = "TBL_ID"): DataFrame =
    tables.select(col(idCol),
        posexplode(col("storageDescriptor.columns")).as(Seq("INTEGER_IDX", "c")))
      .select(col(idCol), col("INTEGER_IDX"),
        col("c.name").as("COLUMN_NAME"), col("c.type").as("TYPE_NAME"))

  /** Decompose parameters maps → (id, PARAM_KEY, PARAM_VALUE) rows
    * (reference params_to_df :881-884). */
  def paramsFromEntities(entities: DataFrame, idCol: String): DataFrame =
    AggOps.mapToRows(entities, idCol, "parameters", "PARAM_KEY", "PARAM_VALUE")

  /** Decompose partition entities → PARTITION_KEY_VALS rows. */
  def partitionKeyVals(partitions: DataFrame): DataFrame =
    partitions.select(col("PART_ID"),
        posexplode(col("values")).as(Seq("INTEGER_IDX", "PART_KEY_VAL")))

  /** Decompose partitionKeys arrays → PARTITION_KEYS rows. */
  def partitionKeysFromTables(tables: DataFrame): DataFrame =
    tables.select(col("TBL_ID"),
        posexplode(col("partitionKeys")).as(Seq("INTEGER_IDX", "k")))
      .select(col("TBL_ID"), col("INTEGER_IDX"),
        col("k.name").as("PKEY_NAME"), col("k.type").as("PKEY_TYPE"))

  /** Entities → 19 relational tables (reference `transform`
    * :1227-1247 + the extract_from_* decompositions :1064-1177).
    *
    * @param databasesE (name, description, locationUri, parameters)
    * @param tablesE    (database, name, owner, createTime, tableType,
    *                   parameters, partitionKeys, storageDescriptor)
    * @param partitionsE (database, table, values, creationTime,
    *                   storageDescriptor); partitionName is recomputed
    * @param startIds   per-id start values (see [[startIds]]); keys
    *                   DB_ID, TBL_ID, SD_ID, CD_ID, SERDE_ID, PART_ID,
    *                   STRING_LIST_ID_KID
    */
  def transform(databasesE: DataFrame, tablesE: DataFrame,
                partitionsE: DataFrame,
                startIds: Map[String, Long]): Map[String, DataFrame] = {
    def start(k: String): Long = startIds.getOrElse(k, 0L)
    // The 19 output tables all branch off five shared id'd frames
    // (msDbs/msTbls/msParts/sdsIdd/locMapIdd, each an orderBy +
    // zipWithIndex over the forward entity assembly). Un-persisted,
    // EVERY one of the 19 JDBC loads re-evaluates that whole lineage —
    // and zipWithIndex's own count job already pays it once more at
    // definition time (r16 measured: cat_reverse_e2e spent 9.8 s at
    // sf0.1, dominated by ~20 re-runs of the same catalog assembly).
    // Persisting input AND output of each id pass makes the count job
    // the ONE evaluation of the upstream plan (the map pass and all 19
    // consumers read cache). Catalog-sized frames (≤10^6-ish rows even
    // at 100 TB, see module doc) — the persist-for-lifetime doctrine;
    // the harness clearCache between queries scopes the blocks.
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def genIdsShared(sorted: DataFrame, idName: String, st: Long): DataFrame =
      IdOps.generateConsecutiveIds(sorted.persist(disk), idName, st)
        .persist(disk)

    // --- DBS (extract_dbs :913-928): gen DB_ID in name order ---
    val msDbs = genIdsShared(
      databasesE.orderBy("name"), "DB_ID", start("DB_ID"))
    val dbsOut = msDbs.select(col("DB_ID"), col("name").as("NAME"),
      coalesce(col("locationUri"), lit("")).as("DB_LOCATION_URI"),
      col("description").as("DESC"))
    val dbParamsOut = paramsFromEntities(msDbs, "DB_ID")

    // --- TBLS (extract_tbls :938-946): FK to DB_ID, gen TBL_ID ---
    val tblsKeyed = tablesE
      .join(msDbs.select(col("DB_ID"), col("name").as("__dbname")),
        tablesE("database") === col("__dbname"), "inner")
      .drop("__dbname")
    val msTbls = genIdsShared(
      tblsKeyed.orderBy("database", "name"), "TBL_ID", start("TBL_ID"))

    // --- PARTITIONS (extract_partitions :981-996): FK through db+table ---
    val partsKeyed = partitionsE
      .join(msTbls.select(col("TBL_ID"), col("database").as("__db"),
          col("name").as("__tbl"), col("partitionKeys").as("__pkeys")),
        partitionsE("database") === col("__db") &&
          partitionsE("table") === col("__tbl"), "inner")
      .withColumn("partitionName",
        graft.functions.StringFns.partitionName(col("__pkeys"), col("values")))
      .drop("__db", "__tbl", "__pkeys")
    // creationTime tiebreak: distinct partitions of one table can share
    // a partitionName in the fixtures — the id order must still be total
    val msParts = genIdsShared(
      partsKeyed.orderBy("database", "table", "partitionName", "creationTime"),
      "PART_ID", start("PART_ID"))

    // --- SDS (extract_sds :1010-1045): partition SDs ∪ table SDs,
    // one id pass drives SD_ID/CD_ID/SERDE_ID (reformat_sds :1047-1062
    // generates all three consecutively over the same row order) ---
    val partSds = msParts.select(col("PART_ID").cast("string").as("__sdkey"),
      lit("partition").as("__sdtype"), col("storageDescriptor"))
    val tblSds = msTbls.select(
      concat(col("name"), col("database")).as("__sdkey"),
      lit("table").as("__sdtype"), col("storageDescriptor"))
    val sdsIdd = genIdsShared(
        partSds.unionByName(tblSds).orderBy("__sdtype", "__sdkey"),
        "__rn", 0L)
      .select(col("__sdkey"), col("__sdtype"), col("storageDescriptor"),
        (col("__rn") + start("SD_ID")).as("SD_ID"),
        (col("__rn") + start("CD_ID")).as("CD_ID"),
        (col("__rn") + start("SERDE_ID")).as("SERDE_ID"))

    val sdBack = sdsIdd.select(col("__sdkey"), col("__sdtype"), col("SD_ID"))
    val msTblsSd = msTbls.join(sdBack.where(col("__sdtype") === "table"),
        concat(msTbls("name"), msTbls("database")) === sdBack("__sdkey"), "inner")
      .drop("__sdkey", "__sdtype")
    val msPartsSd = msParts.join(sdBack.where(col("__sdtype") === "partition"),
        msParts("PART_ID").cast("string") === sdBack("__sdkey"), "inner")
      .drop("__sdkey", "__sdtype")

    val sd = col("storageDescriptor")
    val sdsOut = sdsIdd.select(col("SD_ID"), col("CD_ID"), col("SERDE_ID"),
      sd.getField("location").as("LOCATION"),
      sd.getField("inputFormat").as("INPUT_FORMAT"),
      sd.getField("outputFormat").as("OUTPUT_FORMAT"),
      lit(false).as("IS_COMPRESSED"),
      lit(-1).as("NUM_BUCKETS"))
    val cdsOut = sdsIdd.select(col("CD_ID"))
    val serdesOut = sdsIdd.select(col("SERDE_ID"),
      sd.getField("serdeInfo").getField("name").as("NAME"),
      sd.getField("serdeInfo").getField("serializationLibrary").as("SLIB"))
    // entity serdeInfo/SD carry no parameters or sort columns (the
    // forward path doesn't model them) → empty child tables
    val serdeParamsOut = serdesOut.where(lit(false))
      .select(col("SERDE_ID"), lit("").as("PARAM_KEY"), lit("").as("PARAM_VALUE"))
    val sdParamsOut = sdsOut.where(lit(false))
      .select(col("SD_ID"), lit("").as("PARAM_KEY"), lit("").as("PARAM_VALUE"))
    val sortColsOut = sdsOut.where(lit(false))
      .select(col("SD_ID"), lit(0).as("INTEGER_IDX"),
        lit("").as("COLUMN_NAME"), lit(0).as("ORDER"))

    // --- COLUMNS_V2 (extract_from_sds_columns :1081-1100) ---
    val columnsOut = columnsFromTables(sdsIdd, "CD_ID")

    // --- skewed family (extract_from_sds_skewed_info :1126-1177):
    // names explode; loc-map explode + STRING_LIST_ID_KID gen; encoded
    // strings decoded back to idx'd SKEWED_STRING_LIST_VALUES via F6 ---
    val skewedNamesOut = sdsIdd.select(col("SD_ID"),
      explode(sd.getField("skewedInfo").getField("skewedColumnNames"))
        .as("SKEWED_COL_NAME"))
    val locMapRaw = sdsIdd.select(col("SD_ID"),
      explode(sd.getField("skewedInfo").getField("skewedColumnValueLocationMaps"))
        .as(Seq("STRING_LIST_STR", "LOCATION")))
    val locMapIdd = genIdsShared(
      locMapRaw.orderBy("SD_ID", "STRING_LIST_STR"),
      "STRING_LIST_ID_KID", start("STRING_LIST_ID_KID"))
    val skewedLocMapOut = locMapIdd.select(
      col("SD_ID"), col("STRING_LIST_ID_KID"), col("LOCATION"))
    val skewedValuesOut = locMapIdd.select(
        col("STRING_LIST_ID_KID").as("STRING_LIST_ID"),
        posexplode(Codecs.decodeStringList(col("STRING_LIST_STR")))
          .as(Seq("INTEGER_IDX", "STRING_LIST_VALUE")))
    val skewedListOut = skewedValuesOut.select("STRING_LIST_ID").distinct()

    // --- TBLS + children (extract_from_tbls :1102-1124) ---
    val tblsOut = msTblsSd.select(col("TBL_ID"), col("DB_ID"),
      col("name").as("TBL_NAME"), col("SD_ID"),
      TimeFns.iso8601ToUtcSeconds(col("createTime")).as("CREATE_TIME"),
      col("owner").as("OWNER"), col("tableType").as("TBL_TYPE"))
    val tblParamsOut = paramsFromEntities(msTblsSd, "TBL_ID")
    val partitionKeysOut = partitionKeysFromTables(msTblsSd)

    // --- PARTITIONS + children (extract_from_partitions :1139-1155) ---
    val partsWithTbl = msPartsSd.join(
      msTbls.select(col("TBL_ID").as("__tid"), col("database").as("__db"),
        col("name").as("__tbl")),
      msPartsSd("database") === col("__db") && msPartsSd("table") === col("__tbl"),
      "inner")
    val partitionsOut = partsWithTbl.select(col("PART_ID"),
      col("__tid").as("TBL_ID"), col("SD_ID"),
      TimeFns.iso8601ToUtcSeconds(col("creationTime")).as("CREATE_TIME"),
      col("partitionName").as("PART_NAME"))
    val partParamsOut = partitionsOut.where(lit(false))
      .select(col("PART_ID"), lit("").as("PARAM_KEY"), lit("").as("PARAM_VALUE"))
    val partKeyValsOut = partitionKeyVals(msPartsSd)

    Map(
      "DBS" -> dbsOut, "DATABASE_PARAMS" -> dbParamsOut,
      "CDS" -> cdsOut, "SERDES" -> serdesOut,
      "SERDE_PARAMS" -> serdeParamsOut, "COLUMNS_V2" -> columnsOut,
      "SDS" -> sdsOut, "SD_PARAMS" -> sdParamsOut,
      "SKEWED_COL_NAMES" -> skewedNamesOut,
      "SKEWED_STRING_LIST" -> skewedListOut,
      "SKEWED_STRING_LIST_VALUES" -> skewedValuesOut,
      "SKEWED_COL_VALUE_LOC_MAP" -> skewedLocMapOut,
      "SORT_COLS" -> sortColsOut,
      "TBLS" -> tblsOut, "TABLE_PARAMS" -> tblParamsOut,
      "PARTITION_KEYS" -> partitionKeysOut, "PARTITIONS" -> partitionsOut,
      "PARTITION_PARAMS" -> partParamsOut,
      "PARTITION_KEY_VALS" -> partKeyValsOut)
  }

  /** W5: write all 19 tables over JDBC, FK-level-parallel — same
    * parent-before-child guarantee as the reference's serial order
    * (export_to_metastore :1312-1336), but independent tables within a
    * level load concurrently (19 serial jobs → 5 level barriers).
    *
    * Each frame is coalesced to ONE task before the write (r17, guide
    * §6 small-output sizing applied to a JDBC sink): these are
    * metastore rows — catalog-sized by module contract — but the
    * frames inherit the shuffle parallelism of the assembly upstream,
    * so an un-coalesced write opened up to cores-many JDBC connections
    * per table to insert a handful of rows each (19 tables × N tiny
    * tasks, each paying connection + prepared-statement setup).
    * Cross-TABLE parallelism (the level pool) is untouched. A
    * fact-sized JDBC load should call JdbcIO.write directly with its
    * own partitioning. coalesce (not repartition): no exchange, the
    * single task reads the persisted assembly partitions in place. */
  def exportToMetastore(tables: Map[String, DataFrame], url: String): Unit =
    graft.sources.JdbcIO.writeLeveled(url,
      writeOrder.map(n => n -> tables(n).coalesce(1)), fkParents)
}
