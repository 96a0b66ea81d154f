package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.catalog._
import graft.ops.AggOps

/** Oracle-checked gates for the reverse catalog migration
  * ("to-metastore", SURVEY §3.2 reverse; reference
  * `DataCatalogTransformer.transform` + `export_to_metastore`,
  * hive_metastore_migration.py:1227-1336):
  *
  *  - `cat_sd_skewed_assemble` — J4/A4 fidelity: the skewed string-list
  *    loc-map join + grouped skewed-values arrays inside the forward SD
  *    assembly, with the codec-encoded map keys.
  *  - `cat_reverse_e2e` — the WHOLE chain: forward entities → reverse
  *    decomposition with A7 id continuation against the existing
  *    metastore → FK-ordered JDBC load into embedded Derby → read back
  *    → FK-resolved per-partition flattening. The oracle recomputes
  *    every regenerated id as row_number arithmetic over the same
  *    deterministic orderings.
  */
object ReverseQueries extends graft.QueryModule {

  /** J4/A4: skewed SDs flattened to scalars — one row per loc-map
    * entry, with the names CSV, the STRING_LIST_ID-ordered flattened
    * values CSV, and the codec-encoded map key. */
  def catSdSkewedAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    new CatalogFixtures.Bundle(spark, sfDir).sdsWithSkewT
      .where(size(col("skewedInfo.skewedColumnNames")) > 0)
      .select(col("SD_ID"),
        array_join(col("skewedInfo.skewedColumnNames"), ",").as("names_csv"),
        array_join(col("skewedInfo.skewedColumnValues"), ",").as("values_csv"),
        explode(col("skewedInfo.skewedColumnValueLocationMaps"))
          .as(Seq("enc", "loc")))
      .orderBy("SD_ID", "enc")
  }
  val sdSkewedSql: String = CatalogFixtures.duckCtes +
    """SELECT m.sd_id AS SD_ID, n.names_csv, v.values_csv,
      |  CAST(len(vl.vals) AS VARCHAR) || '%[' ||
      |    array_to_string(list_transform(vl.vals,
      |      x -> chr(39) || x || chr(39)), ', ') || ']' AS enc,
      |  m.location AS loc
      |FROM skewed_col_value_loc_map m
      |JOIN (SELECT string_list_id,
      |        list(string_list_value ORDER BY integer_idx) AS vals
      |      FROM skewed_string_list_values GROUP BY 1) vl
      |  ON m.string_list_id_kid = vl.string_list_id
      |JOIN (SELECT sd_id, string_agg(skewed_col_name, ',' ORDER BY integer_idx)
      |        AS names_csv
      |      FROM skewed_col_names GROUP BY 1) n ON n.sd_id = m.sd_id
      |JOIN (SELECT m2.sd_id, string_agg(sv.string_list_value, ','
      |        ORDER BY sv.string_list_id, sv.integer_idx) AS values_csv
      |      FROM skewed_col_value_loc_map m2
      |      JOIN skewed_string_list_values sv
      |        ON sv.string_list_id = m2.string_list_id_kid
      |      GROUP BY m2.sd_id) v ON v.sd_id = m.sd_id
      |ORDER BY SD_ID, enc""".stripMargin

  /** The full reverse migration, Derby-roundtripped, FK-flattened: one
    * row per migrated partition carrying every regenerated id and the
    * attributes reachable through its FKs (table, db, its own SD +
    * serde, the owning table's skew family, column counts, key vals). */
  def catReverseE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val f = new CatalogFixtures.Bundle(spark, sfDir)
    // The forward assembly is consumed through SEVERAL downstream
    // lineages: sdsWithSkewT feeds tablesWithSkewT AND
    // partitionsWithSdT directly, tablesWithSkewT feeds
    // partitionsWithSdT again, and transform() evaluates each entity
    // input once more when filling its own id-pass caches. Un-persisted,
    // the skew-heavy SD assembly ran 3x inside one gate (r16 measured;
    // plans/r16/cat_reverse_e2e_before.txt repeats the same scan+agg
    // subtree). Catalog-sized frames — same persist-for-lifetime
    // doctrine as ReverseMigration.transform; the harness clearCache
    // between queries scopes the blocks.
    locally {
      val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      Seq(f.databasesT, f.sdsWithSkewT, f.tablesWithSkewT).foreach(_.persist(disk))
    }
    val rel = ReverseMigration.transform(
      f.databasesT.drop("DB_ID"),
      f.tablesWithSkewT.drop("TBL_ID"),
      f.partitionsWithSdT.drop("PART_ID"),
      ReverseMigration.startIds(f))
    val url = s"jdbc:derby:memory:graftrev${System.nanoTime()};create=true"
    ReverseMigration.exportToMetastore(rel, url)

    def rb(t: String): DataFrame = graft.sources.JdbcIO.read(spark, url, t)
    val parts = rb("PARTITIONS")
    val tblsB = rb("TBLS")
    val dbsB = rb("DBS")
    val sdsB = rb("SDS")
    val serdesB = rb("SERDES")
    val colsB = rb("COLUMNS_V2")
    val kvB = rb("PARTITION_KEY_VALS")
    val sknB = rb("SKEWED_COL_NAMES")
    val slmB = rb("SKEWED_COL_VALUE_LOC_MAP")
    val slvB = rb("SKEWED_STRING_LIST_VALUES")

    val nCols = colsB.groupBy("CD_ID").agg(count(lit(1)).as("n_cols"))
    val kvCsv = AggOps.collectSortedByIdx(
        kvB, "PART_ID", "INTEGER_IDX", col("PART_KEY_VAL"), "vals")
      .select(col("PART_ID").as("__kv_pid"), array_join(col("vals"), ",").as("keyvals_csv"))
    val skNames = sknB.groupBy("SD_ID").agg(
      array_join(array_sort(collect_list(col("SKEWED_COL_NAME"))), ",")
        .as("skew_names_csv"))
    val skLocs = slmB.groupBy("SD_ID").agg(
      array_join(array_sort(collect_list(col("LOCATION"))), ",").as("skew_locs_csv"))
    val skVals = slmB.join(slvB,
        slmB("STRING_LIST_ID_KID") === slvB("STRING_LIST_ID"))
      .groupBy("SD_ID").agg(
        array_join(array_sort(collect_list(struct(
          col("STRING_LIST_ID"), col("INTEGER_IDX"), col("STRING_LIST_VALUE"))))
          .getField("STRING_LIST_VALUE"), ",").as("skew_vals_csv"))

    // Join strategy (guide §3.1): JDBC relations carry NO stats, so
    // un-hinted every one of these 10 joins planned SortMergeJoin —
    // the r16 tail plan was 38 Exchanges / 20 SMJ / 0 broadcasts for a
    // partition-count-row result. The sides hinted below are TABLE/DB
    // cardinality by metastore construction (DBS, TBLS, the per-table
    // skew families) — orders of magnitude below partition cardinality
    // at any lake size, so the broadcast is safe at 100 TB. The
    // PARTITION-cardinality sides deliberately stay shuffled (SDS,
    // SERDES and CDS rows exist per partition in this transform,
    // PARTITION_KEY_VALS per partition key): they scale with the fact
    // side.
    parts.select(col("PART_ID").as("part_id"), col("TBL_ID").as("__p_tid"),
        col("SD_ID").as("__p_sid"), col("CREATE_TIME").as("part_ct"),
        col("PART_NAME").as("part_name"))
      .join(broadcast(tblsB.select(col("TBL_ID").as("__p_tid"), col("DB_ID").as("__t_did"),
        col("TBL_NAME").as("tbl_name"), col("SD_ID").as("__t_sid"),
        col("CREATE_TIME").as("tbl_ct"), col("OWNER").as("owner"),
        col("TBL_ID").as("tbl_id"))), Seq("__p_tid"))
      .join(broadcast(dbsB.select(col("DB_ID").as("__t_did"), col("NAME").as("db_name"),
        col("DB_LOCATION_URI").as("db_loc"), col("DB_ID").as("db_id"))), Seq("__t_did"))
      .join(sdsB.select(col("SD_ID").as("__p_sid"), col("CD_ID").as("__p_cid"),
        col("SERDE_ID").as("__p_serid"), col("LOCATION").as("location"),
        col("SD_ID").as("sd_id")), Seq("__p_sid"))
      .join(serdesB.select(col("SERDE_ID").as("__p_serid"),
        col("NAME").as("serde_name"), col("SLIB").as("slib")), Seq("__p_serid"))
      .join(nCols.select(col("CD_ID").as("__p_cid"), col("n_cols")), Seq("__p_cid"))
      .join(kvCsv, col("part_id") === col("__kv_pid"))
      .join(broadcast(skNames.select(col("SD_ID").as("__t_sid"), col("skew_names_csv"))),
        Seq("__t_sid"), "left_outer")
      .join(broadcast(skLocs.select(col("SD_ID").as("__t_sid2"), col("skew_locs_csv"))),
        col("__t_sid") === col("__t_sid2"), "left_outer")
      .join(broadcast(skVals.select(col("SD_ID").as("__t_sid3"), col("skew_vals_csv"))),
        col("__t_sid") === col("__t_sid3"), "left_outer")
      .select(col("part_id"), col("part_name"), col("part_ct"),
        col("tbl_id"), col("tbl_name"), col("tbl_ct"), col("owner"),
        col("db_id"), col("db_name"), col("db_loc"),
        col("sd_id"), col("location"), col("serde_name"), col("slib"),
        col("n_cols"), col("keyvals_csv"),
        coalesce(col("skew_names_csv"), lit("")).as("skew_names_csv"),
        coalesce(col("skew_locs_csv"), lit("")).as("skew_locs_csv"),
        coalesce(col("skew_vals_csv"), lit("")).as("skew_vals_csv"))
      .orderBy("part_id")
  }

  /** Replays the reverse migration's deterministic id arithmetic over
    * the fixture CTEs: new ids are max(existing)+row_number over the
    * same orderings the Scala side sorts by (name / (db,tbl) /
    * (db,tbl,partName,gsonTime) / SD union (type,key) / loc-map
    * (sd,enc)). */
  val reverseE2eSql: String = CatalogFixtures.duckCtes.stripSuffix("\n") +
    """,
      |newdbs AS (
      |  SELECT name,
      |    regexp_replace(db_location_uri, '^s3[an]://', 's3://') AS db_loc,
      |    (SELECT max(db_id) FROM dbs) + row_number() OVER (ORDER BY name)
      |      AS db_id_new
      |  FROM dbs),
      |newtbls AS (
      |  SELECT t.tbl_id AS old_tbl_id, t.sd_id AS old_sd_id,
      |    d.name AS dbname, t.tbl_name, t.create_time, t.owner,
      |    nd.db_id_new,
      |    (SELECT max(tbl_id) FROM tbls)
      |      + row_number() OVER (ORDER BY d.name, t.tbl_name) AS tbl_id_new
      |  FROM tbls t
      |  JOIN dbs d ON t.db_id = d.db_id
      |  JOIN newdbs nd ON nd.name = d.name),
      |pnamed AS (
      |  SELECT pt.part_id AS old_part_id, pt.sd_id AS old_sd_id,
      |    pt.create_time,
      |    nt.dbname, nt.tbl_name, nt.tbl_id_new, nt.old_sd_id AS tbl_old_sd_id,
      |    'year(int),month(int)=' || v.vals_csv AS part_name,
      |    strftime(make_timestamp(CAST(pt.create_time AS BIGINT) * 1000000),
      |      '%b %d, %Y %I:%M:%S %p') AS ct_str
      |  FROM parts pt
      |  JOIN newtbls nt ON pt.tbl_id = nt.old_tbl_id
      |  JOIN (SELECT part_id, string_agg(part_key_val, ',' ORDER BY integer_idx)
      |          AS vals_csv
      |        FROM partition_key_vals GROUP BY 1) v ON pt.part_id = v.part_id),
      |newparts AS (
      |  SELECT *, (SELECT max(part_id) FROM parts) + row_number() OVER (
      |      ORDER BY dbname, tbl_name, part_name, ct_str) AS part_id_new
      |  FROM pnamed),
      |sdunion AS (
      |  SELECT 'partition' AS sdtype, CAST(part_id_new AS VARCHAR) AS sdkey,
      |    old_sd_id
      |  FROM newparts
      |  UNION ALL
      |  SELECT 'table', tbl_name || dbname, old_sd_id FROM newtbls),
      |newsds AS (
      |  SELECT sdtype, sdkey, old_sd_id,
      |    (SELECT max(sd_id) FROM sds)
      |      + row_number() OVER (ORDER BY sdtype, sdkey) AS sd_id_new,
      |    (SELECT max(cd_id) FROM sds)
      |      + row_number() OVER (ORDER BY sdtype, sdkey) AS cd_id_new,
      |    (SELECT max(serde_id) FROM sds)
      |      + row_number() OVER (ORDER BY sdtype, sdkey) AS serde_id_new
      |  FROM sdunion),
      |oldcols AS (
      |  SELECT s.sd_id, count(*) AS n_cols
      |  FROM sds s JOIN columns_v2 c ON s.cd_id = c.cd_id
      |  GROUP BY s.sd_id),
      |skn AS (
      |  SELECT sd_id, string_agg(skewed_col_name, ',' ORDER BY skewed_col_name)
      |    AS skew_names_csv
      |  FROM skewed_col_names GROUP BY 1),
      |skl AS (
      |  SELECT sd_id, string_agg(location, ',' ORDER BY location)
      |    AS skew_locs_csv
      |  FROM skewed_col_value_loc_map GROUP BY 1),
      |skv AS (
      |  SELECT m.sd_id, string_agg(sv.string_list_value, ','
      |      ORDER BY m.string_list_id_kid, sv.integer_idx) AS skew_vals_csv
      |  FROM skewed_col_value_loc_map m
      |  JOIN skewed_string_list_values sv
      |    ON sv.string_list_id = m.string_list_id_kid
      |  GROUP BY m.sd_id)
      |SELECT np.part_id_new AS part_id, np.part_name,
      |  CAST(np.create_time AS BIGINT) AS part_ct,
      |  np.tbl_id_new AS tbl_id, np.tbl_name,
      |  CAST(nt.create_time AS BIGINT) AS tbl_ct, nt.owner,
      |  nt.db_id_new AS db_id, nt.dbname AS db_name,
      |  nd.db_loc,
      |  ps.sd_id_new AS sd_id,
      |  regexp_replace(s.location, '^s3[an]://', 's3://') AS location,
      |  sr.name AS serde_name, sr.slib,
      |  oc.n_cols,
      |  v2.vals_csv AS keyvals_csv,
      |  coalesce(tskn.skew_names_csv, '') AS skew_names_csv,
      |  coalesce(tskl.skew_locs_csv, '') AS skew_locs_csv,
      |  coalesce(tskv.skew_vals_csv, '') AS skew_vals_csv
      |FROM newparts np
      |JOIN newtbls nt ON np.tbl_id_new = nt.tbl_id_new
      |JOIN newdbs nd ON nd.name = nt.dbname
      |JOIN newsds ps ON ps.sdtype = 'partition'
      |  AND ps.sdkey = CAST(np.part_id_new AS VARCHAR)
      |JOIN sds s ON s.sd_id = np.old_sd_id
      |JOIN serdes sr ON sr.serde_id = s.serde_id
      |JOIN oldcols oc ON oc.sd_id = np.old_sd_id
      |JOIN (SELECT part_id, string_agg(part_key_val, ',' ORDER BY integer_idx)
      |        AS vals_csv
      |      FROM partition_key_vals GROUP BY 1) v2 ON v2.part_id = np.old_part_id
      |LEFT JOIN skn tskn ON tskn.sd_id = np.tbl_old_sd_id
      |LEFT JOIN skl tskl ON tskl.sd_id = np.tbl_old_sd_id
      |LEFT JOIN skv tskv ON tskv.sd_id = np.tbl_old_sd_id
      |ORDER BY part_id""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("cat_sd_skewed_assemble", catSdSkewedAssemble, sdSkewedSql),
    Gate("cat_reverse_e2e", catReverseE2e, reverseE2eSql))
}
