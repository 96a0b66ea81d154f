package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.catalog.{CatalogFixtures, CatalogIndex}
import graft.ops.Upsert
import graft.streaming.Sessionize

/** Oracle-checked queries for the extended capabilities: search-index
  * projection (W7 shape), MERGE-style upsert, sessionization. */
object ExtQueries extends graft.QueryModule {

  /** W7/§7.1-7: table entities → search documents. */
  def catIndexDocs(spark: SparkSession, sfDir: String): DataFrame =
    CatalogIndex.tableDocs(new CatalogFixtures.Bundle(spark, sfDir).tablesT)
      .orderBy("table")
  val catIndexSql: String = CatalogFixtures.duckCtes +
    """SELECT md5(d.name || '.' || t.tbl_name) AS doc_id,
      |  d.name AS database, t.tbl_name AS "table",
      |  coalesce(c.cols_csv, '') AS columns,
      |  coalesce(c.col_names, '') AS column_tags,
      |  d.name || ' ' || t.tbl_name || ' ' || t.owner AS comment_tags,
      |  regexp_replace(s.location, '^s3[an]://', 's3://') AS location
      |FROM tbls t
      |JOIN dbs d ON t.db_id = d.db_id
      |JOIN sds s ON t.sd_id = s.sd_id
      |LEFT JOIN (SELECT cd_id,
      |    string_agg(column_name || ':' || type_name, ',' ORDER BY integer_idx) AS cols_csv,
      |    string_agg(column_name, ' ' ORDER BY integer_idx) AS col_names
      |  FROM columns_v2 GROUP BY 1) c ON s.cd_id = c.cd_id
      |ORDER BY t.tbl_name""".stripMargin

  /** MERGE-style upsert: initial load, then a one-partition update
    * batch with changed values + brand-new keys; only the touched
    * partition is rewritten. */
  def upsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val path = GraftSession.scratch("upsert")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"), col("ts").cast("date").as("dt"))
      .withColumn("version", lit(0L))
    Upsert.mergeIntoParquet(spark, path, ev,
      keyCols = Seq("event_id"), versionCol = "version", partitionCol = "dt")
    val minDt = ev.agg(min("dt")).head().getDate(0)
    val changed = ev.where(col("dt") === lit(minDt))
      .withColumn("value", col("value") * 10).withColumn("version", lit(1L))
    val fresh = ev.where(col("event_id") < 100)
      .select((col("event_id") + 1000000).as("event_id"),
        lit(999.0).as("value"), lit(minDt).as("dt"), lit(1L).as("version"))
    Upsert.mergeIntoParquet(spark, path, changed.unionByName(fresh),
      keyCols = Seq("event_id"), versionCol = "version", partitionCol = "dt")
    spark.read.parquet(path)
      .groupBy("dt")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        max("version").as("max_version"))
      .orderBy("dt")
  }
  val upsertSql: String =
    """WITH ev AS (
      |  SELECT event_id, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt
      |  FROM events),
      |m AS (SELECT min(dt) AS md FROM ev)
      |SELECT dt, count(*) + CASE WHEN dt = (SELECT md FROM m) THEN 100 ELSE 0 END AS n,
      |  round(sum(CASE WHEN dt = (SELECT md FROM m) THEN value * 10 ELSE value END)
      |    + CASE WHEN dt = (SELECT md FROM m) THEN 99900.0 ELSE 0.0 END, 2) AS total,
      |  CASE WHEN dt = (SELECT md FROM m) THEN 1 ELSE 0 END AS max_version
      |FROM ev GROUP BY dt ORDER BY dt""".stripMargin

  /** Gap-based sessionization (30-min gap) with per-session summaries. */
  def o5Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Sessionize.sessions(Tables.events(spark, sfDir),
        "user_id", "ts", "event_id", gapSeconds = 1800)
      .orderBy("user_id", "session_idx")
  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
      |      OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
      |  FROM flagged)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Native session windows (o6): Spark's built-in `session_window`
    * aggregation — the engine-level twin of the hand-rolled gap logic
    * in o5_sessionize (which exists for parity with engines lacking
    * the operator). Semantics difference the oracle must replay
    * EXACTLY: session_window extends a session only while the next
    * event is STRICTLY inside `last + gap`, so a pair of events
    * exactly 30 minutes apart SPLITS here but merges under o5's
    * `diff > gap` rule; and the reported end is `last_event + gap`,
    * not max(ts). Gap comparison replayed at microsecond precision
    * (the same-precision-on-both-sides rule). */
  def o6SessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  val o6Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |      OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** As-of join: each purchase matched to the user's latest prior (or
    * same-instant) click. Right side deduped per (user, ts) for
    * deterministic equal-ts semantics; oracle uses DuckDB ASOF JOIN. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    graft.ops.AsOfJoin.asofBackward(purchases, clicks,
        "user_id", "ts", "click_id", "matched_click")
      .select(col("event_id"), col("user_id"), col("matched_click"))
      .orderBy("event_id")
  }
  val asofSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, c.click_id AS matched_click
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Nearest-direction as-of join (AsOfJoin.asofNearest): each
    * purchase matched to the user's nearest click within 2 hours,
    * either direction, exact ties preferring the earlier click. The
    * oracle composes DuckDB's native backward (`>=`) and forward
    * (`<`) ASOF joins and replays the identical tolerance/tie rule at
    * microsecond precision. */
  def asofNearestJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    graft.ops.AsOfJoin.asofNearest(purchases, clicks,
        "user_id", "ts", "click_id", "matched_click",
        toleranceUs = 7200L * 1000000L)
      .select(col("event_id"), col("user_id"), col("matched_click"))
      .orderBy("event_id")
  }
  val asofNearestSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3),
      |b AS (
      |  SELECT p.event_id, c.click_id, c.us AS cus
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
      |f AS (
      |  SELECT p.event_id, c.click_id, c.us AS cus
      |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts < c.ts)
      |SELECT p.event_id, p.user_id,
      |  CASE
      |    WHEN b.click_id IS NOT NULL AND (p.us - b.cus) <= 7200000000
      |      AND (f.click_id IS NULL OR (f.cus - p.us) > 7200000000
      |           OR (p.us - b.cus) <= (f.cus - p.us))
      |    THEN b.click_id
      |    WHEN f.click_id IS NOT NULL AND (f.cus - p.us) <= 7200000000
      |    THEN f.click_id
      |  END AS matched_click
      |FROM p
      |LEFT JOIN b ON p.event_id = b.event_id
      |LEFT JOIN f ON p.event_id = f.event_id
      |ORDER BY p.event_id""".stripMargin

  /** Capstone: the full training-data curation pipeline (language +
    * quality filters, exact dedup, minhash near-dup removal, stats) —
    * the oracle replays every stage exactly, with ground-truth
    * all-pairs jaccard standing in for the LSH candidates. */
  def pipelineTrainingData(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.TrainingDataPipeline.curateWithStats(
      Tables.documents(spark, sfDir), "doc_id", "text", "lang",
      graft.etl.TrainingDataPipeline.Config(
        langs = Set("en"), minQuality = 0.4,
        shingleSize = 3, jaccardThreshold = 0.5))
  val pipelineSql: String =
    """WITH scored AS (
      |  SELECT doc_id, text, lang,
      |    CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) >=
      |      greatest(len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')),
      |               len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')),
      |               len(regexp_extract_all(text, '\b(le|la|les|et|des)\b')))
      |      AND len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) > 0
      |      THEN 'en' ELSE NULL END AS lang_pred,
      |    round(
      |      0.3 * least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0)
      |      + 0.4 * (CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |          / (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) + 1.0))
      |      + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |          / (CAST(length(text) AS DOUBLE) + 1.0))), 6) AS quality
      |  FROM documents),
      |filtered AS (
      |  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.4),
      |exact AS (
      |  SELECT * FROM filtered WHERE doc_id IN (
      |    SELECT min(doc_id) FROM filtered
      |    GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))),
      |sh AS (
      |  SELECT doc_id, lang, text,
      |    list_distinct(list_transform(
      |      generate_series(1, len(string_split_regex(trim(text), '\s+')) - 2),
      |      i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+2])) AS s
      |  FROM exact WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
      |losers AS (
      |  SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5),
      |survivors AS (
      |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers))
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS min_id
      |FROM survivors GROUP BY lang ORDER BY lang""".stripMargin

  /** Range join: every event matched to its user's session interval
    * via binned containment — ground truth is session membership, so
    * the result must cover every event exactly once. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "event_id", "ts")
    val sessions = Sessionize.sessions(Tables.events(spark, sfDir),
        "user_id", "ts", "event_id", gapSeconds = 1800)
      .select(col("user_id"), col("session_idx"),
        col("session_start"), col("session_end"))
    graft.ops.RangeJoin.binnedContainment(ev, sessions,
        "user_id", "ts", "session_start", "session_end", binSeconds = 3600)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_idx")
  }
  val rangeJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
      |      OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
      |  FROM flagged),
      |iv AS (
      |  SELECT user_id, session_idx,
      |    CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) AS en
      |  FROM sess GROUP BY 1, 2)
      |SELECT e.user_id, CAST(iv.session_idx AS BIGINT) AS session_idx, count(*) AS n_events
      |FROM e JOIN iv ON e.user_id = iv.user_id AND e.sec BETWEEN iv.s AND iv.en
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Versioned table lifecycle: init snapshot → upsert commit →
    * tombstone delete → compact, then time-travel reads of every
    * version. Exercises snapshot isolation, merge-on-read newest-wins,
    * delete semantics, and compaction equivalence (v2 ≡ v3). */
  def vtTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vt")                         // v0-v2
    VersionedTable.commitWithRetry() {
      VersionedTable.compact(spark, root, Seq("event_id"))             // v3
    }
    (0L to 3L).map { v =>
      VersionedTable.readAsOf(spark, root, Seq("event_id"), v)
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }
  /** Change Data Feed over the versioned table (Delta's
    * `readChangeFeed` / Iceberg's changelog scan): every row-level
    * change in (v0, v3], tagged with its commit id and U/D op —
    * snapshot commits (the v3 compaction) are excluded because they
    * rewrite, not change. Built on the same commit history as
    * [[vtTimeTravel]]; summarized per (version, op) so the gate output
    * is scalar and deterministic. Downstream consumers (incremental
    * materialized views, CDC fan-out) read deltas only — cost ∝
    * changes, never table size. */
  def vtChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtcf")                       // v0-v2
    VersionedTable.commitWithRetry() {
      VersionedTable.compact(spark, root, Seq("event_id"))             // v3
    }
    VersionedTable.readChangesBetween(spark, root, 0L, 3L)
      .groupBy(col("__commit").as("version"), col("__op").as("op"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total"))
      .orderBy("version", "op")
  }

  val vtChangeFeedSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id, value * 10 AS value FROM ev WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |delkeys AS (SELECT event_id FROM ev WHERE event_id % 5 = 0)
      |SELECT 1 AS version, 'U' AS op, count(*) AS n,
      |  round(sum(value), 2) AS total FROM v1rows
      |UNION ALL
      |SELECT 2, 'D', count(*), 0.0 FROM delkeys
      |ORDER BY version, op""".stripMargin


  /** Data-skipping read over the versioned table: the base snapshot is
    * written range-clustered on `value` (repartitionByRange → disjoint
    * per-file [min,max] footer stats recorded in the manifest), then a
    * `value BETWEEN 10 AND 20` read opens ONLY the base files whose
    * stats intersect the range — delta commits (the upsert + delete)
    * are always read in full because they shadow base rows
    * (VersionedTable.readAsOfRange; skipping asserted by
    * VersionedTableStatsSpec, semantics pinned here). At 100 TB this
    * is Delta/Iceberg file skipping: cost tracks the selected range,
    * not the table. */
  def vtDataSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtds") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev.repartitionByRange(8, col("value")))
    val upd = ev.where(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 10)
    val fresh = spark.range(100)
      .select((col("id") + 2000000).as("event_id"), lit(5.0).as("value"))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, root, upd.unionByName(fresh))  // v1
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.commitDelete(spark, root,
        ev.where(col("event_id") % 5 === 0).select("event_id"))         // v2
    }
    VersionedTable
      .readAsOfRange(spark, root, Seq("event_id"), 2L, "value", 10.0, 20.0)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        sum((col("event_id") % 7 === 0).cast("long")).as("n_from_updates"))
  }
  val vtDataSkippingSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1 AS (
      |  SELECT event_id, value * 10 AS value FROM ev WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT 2000000 + i AS event_id, 5.0 AS value FROM range(100) t(i)),
      |merged AS (
      |  SELECT * FROM v1
      |  UNION ALL
      |  SELECT * FROM ev WHERE event_id NOT IN (SELECT event_id FROM v1)),
      |live AS (
      |  SELECT * FROM merged
      |  WHERE event_id NOT IN (
      |    SELECT event_id FROM ev WHERE event_id % 5 = 0)),
      |sel AS (SELECT * FROM live WHERE value BETWEEN 10.0 AND 20.0)
      |SELECT count(*) AS n, round(sum(value), 2) AS total,
      |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_from_updates
      |FROM sel""".stripMargin


  /** Point-lookup read through the per-file Bloom index
    * (VersionedTable.readAsOfEq): the base snapshot is written
    * UNCLUSTERED by the lookup key (hash-partitioned by value), so
    * [min,max] stats cannot prune it — the per-file Bloom over
    * xxhash64(event_id) is what keeps a key lookup at ~one base file
    * (file-count asserts in VersionedTableStatsSpec; semantics pinned
    * here for an updated, a deleted and an untouched key). */
  def vtPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtpl") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev.repartition(8, col("value")),
      bloomCols = Seq("event_id"))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, root,
        ev.where(col("event_id") % 7 === 0)
          .withColumn("value", col("value") * 10))                      // v1
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.commitDelete(spark, root,
        ev.where(col("event_id") % 5 === 0).select("event_id"))         // v2
    }
    val id = col("event_id")
    val keys = ev.agg(
      min(when(id % 7 === 0 && id % 5 =!= 0, id)).as("k_upd"),
      min(when(id % 5 === 0, id)).as("k_del"),
      min(when(id % 7 =!= 0 && id % 5 =!= 0, id)).as("k_live")).head()
    Seq("deleted" -> keys.getLong(1), "untouched" -> keys.getLong(2),
        "updated" -> keys.getLong(0)).map { case (tag, k) =>
      VersionedTable.readAsOfEq(spark, root, Seq("event_id"), 2L,
          "event_id", k)
        .agg(count(lit(1)).as("n"),
          round(coalesce(sum("value"), lit(0.0)), 2).as("total"))
        .select(lit(tag).as("which"), col("n"), col("total"))
    }.reduce(_ unionByName _).orderBy("which")
  }
  val vtPointLookupSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |keys AS (SELECT
      |  min(CASE WHEN event_id % 7 = 0 AND event_id % 5 <> 0
      |      THEN event_id END) AS k_upd,
      |  min(CASE WHEN event_id % 5 = 0 THEN event_id END) AS k_del,
      |  min(CASE WHEN event_id % 7 <> 0 AND event_id % 5 <> 0
      |      THEN event_id END) AS k_live
      |  FROM ev),
      |state AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev WHERE event_id % 5 <> 0)
      |SELECT 'deleted' AS which,
      |  (SELECT count(*) FROM state, keys WHERE event_id = k_del) AS n,
      |  (SELECT round(coalesce(sum(value), 0), 2)
      |   FROM state, keys WHERE event_id = k_del) AS total
      |UNION ALL
      |SELECT 'untouched',
      |  (SELECT count(*) FROM state, keys WHERE event_id = k_live),
      |  (SELECT round(coalesce(sum(value), 0), 2)
      |   FROM state, keys WHERE event_id = k_live)
      |UNION ALL
      |SELECT 'updated',
      |  (SELECT count(*) FROM state, keys WHERE event_id = k_upd),
      |  (SELECT round(coalesce(sum(value), 0), 2)
      |   FROM state, keys WHERE event_id = k_upd)
      |ORDER BY 1""".stripMargin


  /** OPTIMIZE-ZORDER parity: the table starts hash-scattered (no
    * dimension prunable), takes an update, then compactClustered
    * re-lays the snapshot as a (user_id, event_id) z-order — after
    * which readAsOfRange on user_id opens a subset of the base files
    * (file counts asserted in VersionedTableStatsSpec; this gate pins
    * the post-compaction semantics: clustering must never change
    * state). */
  def vtCompactZorder(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtcz") + "/tbl"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    VersionedTable.init(spark, root, ev.repartition(8, col("value")))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, root,
        ev.where(col("event_id") % 7 === 0)
          .withColumn("value", col("value") * 10))                      // v1
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.compactClustered(spark, root, Seq("event_id"),
        Seq("user_id", "event_id"), nFiles = 8)                         // v2
    }
    VersionedTable
      .readAsOfRange(spark, root, Seq("event_id"), 2L, "user_id", 10L, 40L)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        countDistinct("user_id").as("n_users"))
  }
  val vtCompactZorderSql: String =
    """WITH ev AS (SELECT event_id, user_id, value FROM events),
      |state AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev),
      |sel AS (SELECT * FROM state WHERE user_id BETWEEN 10 AND 40)
      |SELECT count(*) AS n, round(sum(value), 2) AS total,
      |  count(DISTINCT user_id) AS n_users
      |FROM sel""".stripMargin

  /** The shared versioned-table commit history every vt_* gate builds
    * on: init snapshot (v0) → upsert of the %7 keys ×10 plus 100
    * fresh keys (v1) → tombstone delete of the %5 keys (v2). Returns
    * the table root; gates append further commits (compaction) and
    * read through their API under test. Commits go through the
    * bounded-retry OCC loop — the default entry under possible write
    * contention (a no-op when, as here, the writer is alone; raced
    * deterministically in VersionedTableSpec). */
  /** RESTORE (Delta `RESTORE TABLE ... VERSION AS OF`): after the
    * upsert (v1) and delete (v2) turn out bad, roll back to v0 — a
    * NEW snapshot commit (v3) carrying v0's exact state, so history
    * stays auditable and concurrent readers never see a vanished
    * version. The gate reads the pre-restore head (v2) and the
    * restored head (v3): v3 must equal the ORIGINAL base state. */
  def vtRestore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtre")                       // v0-v2
    VersionedTable.commitWithRetry() {
      VersionedTable.restore(spark, root, Seq("event_id"), 0L)         // v3 = v0
    }
    Seq(2L, 3L).map { v =>
      VersionedTable.readAsOf(spark, root, Seq("event_id"), v)
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }
  val vtRestoreSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 2 AS version, count(*) AS n, round(sum(value), 2) AS total
      |FROM v2rows
      |UNION ALL
      |SELECT 3, count(*), round(sum(value), 2) FROM ev
      |ORDER BY version""".stripMargin

  /** Retention lifecycle end-to-end (Delta VACUUM + history cleanup):
    * compact the chain into a snapshot (v3), expire every version
    * before it, then sweep orphan data dirs. Proves retention is
    * SAFE: after dropping 3 versions and their data, the surviving
    * head still answers exactly — and the orphan sweep (horizon 0,
    * the most aggressive setting) finds nothing to reclaim because
    * [[graft.etl.VersionedTable.expire]] already removed the expired
    * versions' data with their manifests. At 100 TB this is the
    * storage-bound story: time travel costs only what retention
    * keeps. */
  /** GDPR-style hard erasure of a key set across table HISTORY — the
    * Delta right-to-be-forgotten workflow: tombstone the keys (one
    * delta commit), checkpoint the erased state as a fresh base
    * snapshot, then EXPIRE every earlier version and vacuum its files,
    * so no readable version — current or time-travel — can reproduce
    * the erased rows and their bytes are physically gone. The gate
    * audits exactly that: it re-reads EVERY remaining version probing
    * for leaked victims (must be 0) and emits the surviving state.
    * Cost shape: the tombstone is batch-sized, the snapshot is one
    * table rewrite (inherent to physical erasure — Delta pays the
    * same in DELETE + VACUUM), expiry is manifest-sized. */
  def vtPurgeKey(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    // PRIVATE build, not the shared shallow clone (r16 ADVICE medium):
    // this gate's documented contract is GDPR erasure — "the victims'
    // BYTES are physically gone" — and expire skips external (borrowed)
    // data dirs by design, so on a clone the audit would only prove
    // the clone's manifests no longer reference the victims while the
    // base's files still hold them. A private lifecycle makes expire
    // actually delete the victim-bearing dirs. Costs the gate its own
    // three-commit fixture build; correctness of the erasure contract
    // outranks the bench-fixture dedup here.
    val root = vtLifecyclePrivate(spark, sfDir, "vtpk")                // v0-v2
    val victims = VersionedTable.readLatest(spark, root, Seq("event_id"))
      .where(col("event_id") % 10 === 3).select("event_id")
    VersionedTable.commitWithRetry() {
      VersionedTable.commitDelete(spark, root, victims)                // v3
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.compact(spark, root, Seq("event_id"))             // v4
    }
    val removed = VersionedTable.expire(spark, root, keepFrom = 4L)
    VersionedTable.vacuumOrphans(spark, root, olderThanMs = 0L)
    val vs = VersionedTable.versions(spark, root)
    // leak audit: probe every still-readable version for the victims
    val leaked = vs.map { v =>
      VersionedTable.readAsOf(spark, root, Seq("event_id"), v)
        .where(col("event_id") % 10 === 3).count()
    }.sum
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n_live"), round(sum("value"), 2).as("total"))
      .select(lit(removed.size.toLong).as("n_expired"),
        lit(vs.size.toLong).as("n_versions"),
        lit(leaked).as("leaked_rows"), col("n_live"), col("total"))
  }
  val vtPurgeKeySql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0),
      |purged AS (
      |  SELECT * FROM v2rows WHERE event_id % 10 <> 3)
      |SELECT 4 AS n_expired, 1 AS n_versions, 0 AS leaked_rows,
      |  count(*) AS n_live, round(sum(value), 2) AS total
      |FROM purged""".stripMargin

  def vtExpireVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtev")                       // v0-v2
    VersionedTable.commitWithRetry() {
      VersionedTable.compact(spark, root, Seq("event_id"))             // v3
    }
    val removed = VersionedTable.expire(spark, root, keepFrom = 3L)
    val orphans = VersionedTable.vacuumOrphans(spark, root, olderThanMs = 0L)
    val vs = VersionedTable.versions(spark, root)
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(lit(removed.size.toLong).as("n_expired"),
        lit(orphans.size.toLong).as("n_orphans"),
        lit(vs.size.toLong).as("n_versions"), col("n"), col("total"))
  }
  val vtExpireVacuumSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 3 AS n_expired, 0 AS n_orphans, 1 AS n_versions,
      |  count(*) AS n, round(sum(value), 2) AS total
      |FROM v2rows""".stripMargin

  /** Column-pruned versioned read: [[graft.etl.VersionedTable
    * .readAsOfColumns]] over the lifecycle chain — the ReadSchema
    * pruning itself is asserted in VersionedTableStatsSpec; this gate
    * pins that the PROJECTED merge still answers exactly (same
    * winners per key as the full-width read). */
  def vtProjectedRead(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtpr")                       // v0-v2
    VersionedTable.readAsOfColumns(spark, root, Seq("event_id"), 2L,
        Seq("value"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
  }
  val vtProjectedReadSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT count(*) AS n, round(sum(value), 2) AS total FROM v2rows""".stripMargin

  /** Predicate-scoped overwrite (VersionedTable.commitReplaceWhere —
    * Delta's `replaceWhere`, the canonical partition backfill): the
    * table is seeded from orders, then ONE atomic commit replaces the
    * 1996 slice with a corrected batch holding only the even keys
    * (price doubled) — odd 1996 keys must vanish via the anti-join
    * tombstones, every non-1996 row must survive untouched, and the
    * history must show exactly one replace version. The base read of
    * the affected slice is stats-pruned (readAsOfRange), so on a
    * date-clustered table the backfill reads the year's files, not
    * the table. */
  def vtReplaceWhere(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtrepl") + "/tbl"
    val od = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    VersionedTable.init(spark, root, od)                               // v0
    val lo = java.time.Instant.parse("1996-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("1996-12-31T23:59:59.999999Z")
    val repl = od
      .where(col("o_orderdate").between(lit(lo), lit(hi)) &&
        col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)             // exact
    VersionedTable.commitWithRetry() {
      VersionedTable.commitReplaceWhere(spark, root, Seq("o_orderkey"),
        "o_orderdate", lo, hi, repl)                                   // v1
    }
    VersionedTable.readLatest(spark, root, Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(col("n"), col("total"),
        lit(VersionedTable.versions(spark, root).size.toLong)
          .as("n_versions"))
  }
  val vtReplaceWhereSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders),
      |inr AS (SELECT * FROM o WHERE o_orderdate
      |  BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |  AND TIMESTAMP '1996-12-31 23:59:59.999999')
      |SELECT
      |  (SELECT count(*) FROM o WHERE o_orderdate
      |     NOT BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |     AND TIMESTAMP '1996-12-31 23:59:59.999999')
      |   + (SELECT count(*) FROM inr WHERE o_orderkey % 2 = 0) AS n,
      |  round((SELECT sum(o_totalprice) FROM o WHERE o_orderdate
      |     NOT BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |     AND TIMESTAMP '1996-12-31 23:59:59.999999')
      |   + (SELECT sum(o_totalprice * 2) FROM inr
      |      WHERE o_orderkey % 2 = 0), 2) AS total,
      |  2 AS n_versions""".stripMargin

  /** Full-sync MERGE: the table is initialized from events, then
    * synced to a source holding only every-third key (doubled) plus
    * 100 fresh keys — one atomic delta commit that updates the
    * survivors, inserts the fresh keys, and tombstones the other
    * two-thirds. The final state must equal the source exactly and
    * the history must show exactly one sync version. */
  def vtMergeFullSync(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtsync") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    val source = ev.where(col("event_id") % 3 === 0)
      .withColumn("value", col("value") * 2)
      .unionByName(spark.range(100)
        .select((col("id") + 4000000).as("event_id"), lit(7.0).as("value")))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitSync(spark, root, source, Seq("event_id"))  // v1
    }
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("n"), col("total"),
        lit(VersionedTable.versions(spark, root).size.toLong)
          .as("n_versions"))
  }
  val vtMergeFullSyncSql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT count(*) + 100 AS n,
      |  round(sum(value * 2) + 700.0, 2) AS total, 2 AS n_versions
      |FROM ev WHERE event_id % 3 = 0""".stripMargin

  /** Conditional MERGE (VersionedTable.commitUpsertIfNewer): the
    * late-arriving-data guard. One batch carries STALE updates (ts a
    * day older, value ×100 — must be dropped), FRESH updates (ts an
    * hour newer, value +10 — must land) and NEW keys; a second
    * all-stale batch must create NO version. Final state + version
    * count are computed arithmetically by the oracle — a clobbered
    * stale row shows up as a ×100 value, a phantom version as
    * n_versions=3. */
  /** CHECK-constraint enforcement (VersionedTable.commitUpsertChecked,
    * the Delta-style table invariant): a batch with poisoned rows
    * (negated prices on odd keys) must be rejected WHOLESALE — no
    * version, no partial rows — while the clean twin batch commits
    * normally. The gate emits the per-constraint violation report of
    * the bad batch joined with the final table state, so a
    * half-applied batch, a wrong violation count (FALSE vs NULL
    * semantics), or a phantom version all break values. */
  def vtConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtck") + "/tbl"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val base = o.where(col("o_orderkey") < 1000)
    val good = o.where(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
    val bad = good.withColumn("o_totalprice",
      when(col("o_orderkey") % 2 === 1, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    val cons = Seq(
      "positive_price" -> "o_totalprice > 0",
      "valid_status" -> "o_orderstatus IN ('F', 'O', 'P')")
    VersionedTable.init(spark, root, base)                       // v0
    val r1 = VersionedTable.commitUpsertChecked(spark, root, bad, cons)
    val r2 = VersionedTable.commitUpsertChecked(spark, root, good, cons)
    val finalN = VersionedTable.readLatest(spark, root, Seq("o_orderkey"))
      .agg(count(lit(1)).as("n_final"))
    VersionedTable.constraintViolations(bad, cons)
      .crossJoin(broadcast(finalN))
      .select(col("constraint_name"), col("n_rows"), col("n_violations"),
        col("n_final"),
        lit(if (r1.isLeft) 1L else 0L).as("bad_rejected"),
        lit(if (r2.isRight) 1L else 0L).as("good_committed"),
        lit(VersionedTable.versions(spark, root).size.toLong)
          .as("n_versions"))
      .orderBy("constraint_name")
  }
  val vtConstraintsSql: String =
    """WITH base AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey < 1000),
      |b AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderkey >= 1000 AND o_orderkey < 2000),
      |viol AS (
      |  SELECT 'positive_price' AS constraint_name, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_violations
      |  FROM b
      |  UNION ALL
      |  SELECT 'valid_status', count(*), CAST(0 AS BIGINT) FROM b),
      |f AS (
      |  SELECT (SELECT count(*) FROM base) + (SELECT count(*) FROM b)
      |    AS n_final)
      |SELECT v.constraint_name, v.n_rows, v.n_violations, f.n_final,
      |  CAST(1 AS BIGINT) AS bad_rejected,
      |  CAST(1 AS BIGINT) AS good_committed,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM viol v CROSS JOIN f ORDER BY constraint_name""".stripMargin

  def vtMergeConditional(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtcond") + "/tbl"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    val batch = ev.where(col("event_id") % 10 === 0)
      .select(col("event_id"), (col("ts") - expr("INTERVAL 1 DAY")).as("ts"),
        (col("value") * 100).as("value"))                              // stale
      .unionByName(ev.where(col("event_id") % 10 === 1)
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
          (col("value") + 10).as("value")))                            // fresh
      .unionByName(spark.range(50)
        .select((col("id") + 6000000).as("event_id"),
          current_timestamp().as("ts"), lit(3.0).as("value")))         // new
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsertIfNewer(spark, root, batch,
        Seq("event_id"), "ts")                                         // v1
    }
    val allStale = ev.where(col("event_id") % 10 === 2)
      .select(col("event_id"), (col("ts") - expr("INTERVAL 2 DAY")).as("ts"),
        lit(-999.0).as("value"))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsertIfNewer(spark, root, allStale,
        Seq("event_id"), "ts")                                         // no-op
    }
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("n"), col("total"),
        lit(VersionedTable.versions(spark, root).size.toLong)
          .as("n_versions"))
  }
  val vtMergeConditionalSql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT count(*) + 50 AS n,
      |  round(sum(CASE WHEN event_id % 10 = 1 THEN value + 10
      |    ELSE value END) + 150.0, 2) AS total,
      |  2 AS n_versions
      |FROM ev""".stripMargin

  /** SCD2 MERGE lifecycle (VersionedTable.commitScd2): a user-state
    * dimension seeded from each user's first event, then two merge
    * batches — the last observation before the corpus midpoint, then
    * the final observation — each batch atomically closing changed
    * current rows and opening their successors. The oracle replays
    * the three-observation version algebra per user (new-key /
    * unchanged / close-and-open with the strict ord guard) straight
    * from the events table, so the MERGE semantics are value-checked
    * without replaying the commit protocol. Output: version rows
    * grouped by (attribute, currency) with closed dwell time. */
  def vtScd2Merge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtscd2") + "/tbl"
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    def obs(src: DataFrame, newest: Boolean): DataFrame = {
      val s = struct(col("us"), col("event_id"), col("event_type"))
      src.groupBy("user_id")
        .agg((if (newest) max(s) else min(s)).as("o"))
        .select(col("user_id"), col("o.event_type").as("event_type"),
          col("o.us").as("us"))
    }
    val dim = obs(ev, newest = false)
      .select(col("user_id"), col("event_type"),
        col("us").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    VersionedTable.init(spark, root, dim)                              // v0
    val mm = ev.agg(min("us").as("mn"), max("us").as("mx")).head()
    val tmid = (mm.getLong(0) + mm.getLong(1)) / 2
    VersionedTable.commitWithRetry() {
      VersionedTable.commitScd2(spark, root,
        obs(ev.where(col("us") <= tmid), newest = true),
        Seq("user_id"), Seq("event_type"), "us")                       // v1
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.commitScd2(spark, root, obs(ev, newest = true),
        Seq("user_id"), Seq("event_type"), "us")                       // v2
    }
    VersionedTable.readLatest(spark, root, Seq("user_id", "valid_from"))
      .groupBy(col("event_type"), col("is_current").cast("long").as("current"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("valid_to") - col("valid_from"), lit(0L)))
          .as("dwell_us"))
      .select(col("event_type"), col("current"), col("n_rows"),
        expr("dwell_us div 1000000").as("dwell_seconds"))
      .orderBy("event_type", "current")
  }
  val vtScd2Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type
      |  FROM events),
      |t AS (SELECT (min(us) + max(us)) // 2 AS tmid FROM e),
      |f AS (SELECT user_id, us, event_type FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS r FROM e) WHERE r = 1),
      |m AS (SELECT user_id, us, event_type FROM (
      |  SELECT e.*, row_number() OVER (PARTITION BY user_id
      |    ORDER BY us DESC, event_id DESC) AS r
      |  FROM e, t WHERE e.us <= t.tmid) WHERE r = 1),
      |l AS (SELECT user_id, us, event_type FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY us DESC, event_id DESC) AS r FROM e) WHERE r = 1),
      |j AS (
      |  SELECT f.user_id, f.us AS f_us, f.event_type AS f_et,
      |    m.us AS m_us, m.event_type AS m_et,
      |    l.us AS l_us, l.event_type AS l_et
      |  FROM f LEFT JOIN m ON f.user_id = m.user_id
      |  JOIN l ON f.user_id = l.user_id),
      |s AS (
      |  SELECT *,
      |    (m_us IS NOT NULL AND m_et <> f_et AND m_us > f_us) AS has_v2
      |  FROM j),
      |s2 AS (
      |  SELECT *,
      |    CASE WHEN has_v2 THEN m_et ELSE f_et END AS cur_et,
      |    CASE WHEN has_v2 THEN m_us ELSE f_us END AS cur_us
      |  FROM s),
      |s3 AS (SELECT *, (l_et <> cur_et AND l_us > cur_us) AS has_v3 FROM s2),
      |rws AS (
      |  SELECT user_id, f_et AS et, f_us AS vf,
      |    CASE WHEN has_v2 THEN m_us WHEN has_v3 THEN l_us END AS vt,
      |    (NOT has_v2 AND NOT has_v3) AS cur
      |  FROM s3
      |  UNION ALL
      |  SELECT user_id, m_et, m_us,
      |    CASE WHEN has_v3 THEN l_us END, NOT has_v3
      |  FROM s3 WHERE has_v2
      |  UNION ALL
      |  SELECT user_id, l_et, l_us, NULL, true FROM s3 WHERE has_v3)
      |SELECT et AS event_type, CAST(cur AS BIGINT) AS current,
      |  count(*) AS n_rows,
      |  CAST(sum(coalesce(vt - vf, 0)) AS BIGINT) // 1000000
      |    AS dwell_seconds
      |FROM rws GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Auto-compaction policy: six upsert batches with
    * `compactIfNeeded(maxChain=3)` after each — the chain-length
    * budget triggers compactions at exactly v4 and v8 (init snapshot
    * + 3 deltas = budget exceeded), so the history lands at 9
    * versions / 3 snapshots deterministically, and the head state is
    * identical to never having compacted. Each batch pins disjoint
    * keys (event_id mod 13 = i) to a constant, so the oracle computes
    * the final state arithmetically. */
  def vtAutoCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtac") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    var compactions = 0L
    (1 to 6).foreach { i =>
      VersionedTable.commitWithRetry() {
        VersionedTable.commitUpsert(spark, root,
          ev.where(col("event_id") % 13 === i)
            .withColumn("value", lit(i.toDouble)))
      }
      if (VersionedTable.compactIfNeeded(spark, root,
          Seq("event_id"), maxChain = 3).isDefined) compactions += 1
    }
    val hist = VersionedTable.history(spark, root)
      .agg(count(lit(1)).as("n_versions"),
        sum(col("is_snapshot").cast("long")).as("n_snapshots"))
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .crossJoin(hist)
      .select(lit(compactions).as("n_compactions"), col("n_versions"),
        col("n_snapshots"), col("n"), col("total"))
  }
  val vtAutoCompactSql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT 2 AS n_compactions, 9 AS n_versions, 3 AS n_snapshots,
      |  count(*) AS n,
      |  round(sum(CASE WHEN event_id % 13 BETWEEN 1 AND 6
      |    THEN CAST(event_id % 13 AS DOUBLE) ELSE value END), 2) AS total
      |FROM ev""".stripMargin

  /** Named version tags: v1 is tagged `release`, further commits move
    * the head — reads by tag must keep answering v1's exact state
    * (the "prod pins a release" contract), and retagging must move
    * the name. Output reads the tag before and after the move. */
  def vtTags(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vttag")                      // v0-v2
    VersionedTable.tagVersion(spark, root, "release", 1L)
    def agg(tag: String, phase: String): DataFrame =
      VersionedTable.readAsOfTag(spark, root, Seq("event_id"), tag)
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(lit(phase).as("phase"), col("n"), col("total"))
    val before = agg("release", "pinned_v1")
    VersionedTable.tagVersion(spark, root, "release", 2L)              // move
    before.unionByName(agg("release", "moved_v2")).orderBy("phase")
  }
  val vtTagsSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 'moved_v2' AS phase, count(*) AS n,
      |  round(sum(value), 2) AS total FROM v2rows
      |UNION ALL
      |SELECT 'pinned_v1', count(*), round(sum(value), 2) FROM v1rows
      |ORDER BY phase""".stripMargin

  /** Deep clone (self-containment proof): the lifecycle table is
    * deep-cloned, the SOURCE IS DELETED OUTRIGHT, and the clone must
    * still answer its full state — the inverse trade of the shallow
    * clone, whose borrowed versions the same deletion would orphan
    * (pinned in CloneSpec). */
  def vtCloneDeep(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val src = vtLifecyclePrivate(spark, sfDir, "vtcd")                 // v0-v2
    val dst = GraftSession.scratch("vtcdclone") + "/tbl"
    VersionedTable.cloneDeep(spark, src, dst, Seq("event_id"))
    val p = new org.apache.hadoop.fs.Path(src)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    VersionedTable.invalidateCache(spark, src)
    VersionedTable.readLatest(spark, dst, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("n"), col("total"),
        lit(VersionedTable.versions(spark, dst).size.toLong).as("n_versions"))
  }
  val vtCloneDeepSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT count(*) AS n, round(sum(value), 2) AS total, 1 AS n_versions
      |FROM v2rows""".stripMargin

  /** Stats metadata view (DESCRIBE DETAIL / Iceberg `files` analog):
    * the manifest's per-file footer stats, folded to per-column
    * global extremes, must reproduce the table's TRUE min/max — the
    * data-skipping machinery audited against the data it skips over,
    * with the oracle computing ground truth from the raw table. The
    * view itself is a zero-job driver-side manifest parse. */
  def vtStatsView(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtsv") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
      .repartitionByRange(8, col("value"))
    VersionedTable.init(spark, root, ev)
    VersionedTable.fileStats(spark, root, 0L)
      .where(col("column").isin("event_id", "value"))
      .groupBy("column")
      .agg(round(min(col("min").cast("double")), 2).as("minv"),
        round(max(col("max").cast("double")), 2).as("maxv"))
      .orderBy("column")
  }
  val vtStatsViewSql: String =
    """SELECT 'event_id' AS "column",
      |  round(CAST(min(event_id) AS DOUBLE), 2) AS minv,
      |  round(CAST(max(event_id) AS DOUBLE), 2) AS maxv FROM events
      |UNION ALL
      |SELECT 'value', round(min(value), 2), round(max(value), 2)
      |FROM events ORDER BY "column"""".stripMargin

  /** Shallow clone (Delta SHALLOW CLONE): the lifecycle table is
    * cloned by manifest reference (zero data copied), the CLONE takes
    * an independent upsert of 100 fresh keys, and the gate reads all
    * three states: the source head (must be untouched by the clone's
    * write), the clone time-traveled to the borrowed v2 (must equal
    * the source head byte-for-byte), and the clone head (borrowed
    * state + the new batch, merged on read across the ownership
    * boundary). */
  def vtCloneShallow(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val src = vtLifecycle(spark, sfDir, "vtcs")                        // v0-v2
    val dst = GraftSession.scratch("vtcsclone") + "/tbl"
    VersionedTable.cloneShallow(spark, src, dst)
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, dst, spark.range(100)
        .select((col("id") + 5000000).as("event_id"),
          lit(1.5).as("value")))                                       // clone v3
    }
    def agg(df: DataFrame, tag: String): DataFrame =
      df.agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(lit(tag).as("side"), col("n"), col("total"))
    agg(VersionedTable.readLatest(spark, src, Seq("event_id")), "src_head")
      .unionByName(agg(VersionedTable.readAsOf(spark, dst,
        Seq("event_id"), 2L), "clone_v2"))
      .unionByName(agg(VersionedTable.readLatest(spark, dst,
        Seq("event_id")), "clone_head"))
      .orderBy("side")
  }
  val vtCloneShallowSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 'clone_head' AS side, count(*) + 100 AS n,
      |  round(sum(value) + 150.0, 2) AS total FROM v2rows
      |UNION ALL
      |SELECT 'clone_v2', count(*), round(sum(value), 2) FROM v2rows
      |UNION ALL
      |SELECT 'src_head', count(*), round(sum(value), 2) FROM v2rows
      |ORDER BY side""".stripMargin

  /** Write-audit-publish gated ingest (Iceberg WAP): batch A (a
    * doubled-value update, in range) passes its audit and commits;
    * batch B (new keys carrying value = -5) violates the range
    * constraint on the post-merge view and is rejected WHOLE — the
    * table ends at the A state with no version for B to travel to.
    * The audit range [0, 10000] brackets the events value domain
    * (≤ 490 in the testdata) with room for the ×2 update. */
  def wapGatedIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.{Quality, VersionedTable, Wap}
    val root = GraftSession.scratch("wap") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    def audit(merged: DataFrame): Seq[DataFrame] = Seq(
      Quality.complete(merged, "value"),
      Quality.inRange(merged, "value", 0.0, 10000.0),
      Quality.unique(merged, Seq("event_id")))
    val good = ev.where(col("event_id") % 9 === 0)
      .withColumn("value", col("value") * 2)
    val a = Wap.ingest(spark, root, good, Seq("event_id"), audit)
    val bad = spark.range(50)
      .select((col("id") + 3000000).as("event_id"), lit(-5.0).as("value"))
    val b = Wap.ingest(spark, root, bad, Seq("event_id"), audit)
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(lit(a.committed.isDefined).as("a_committed"),
        lit(b.committed.isDefined).as("b_committed"),
        lit(b.report.count(!_._4).toLong).as("b_failed_checks"),
        lit(VersionedTable.versions(spark, root).size.toLong)
          .as("n_versions"),
        col("n"), col("total"))
  }
  val wapGatedIngestSql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT true AS a_committed, false AS b_committed,
      |  1 AS b_failed_checks, 2 AS n_versions, count(*) AS n,
      |  round(sum(CASE WHEN event_id % 9 = 0 THEN value * 2
      |    ELSE value END), 2) AS total
      |FROM ev""".stripMargin

  /** Build the three-commit lifecycle (v0 init, v1 upsert, v2 delete)
    * at `root` — the fixture every vt_* gate starts from. */
  private def buildLifecycle(spark: SparkSession, sfDir: String,
                             root: String): Unit = {
    import graft.etl.VersionedTable
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    val upd = ev.where(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 10)
    val fresh = spark.range(100)
      .select((col("id") + 2000000).as("event_id"), lit(5.0).as("value"))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, root, upd.unionByName(fresh)) // v1
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.commitDelete(spark, root,
        ev.where(col("event_id") % 5 === 0).select("event_id"))        // v2
    }
  }

  /** SHARED immutable lifecycle base, built once per sf dir: 13
    * gates previously each rebuilt the identical v0–v2 history — three
    * events-sized Spark commits per gate, ~2 s × 13 at sf0.1 of pure
    * fixture duplication in every bench draw.
    * [[vtLifecycle]] hands each gate a SHALLOW CLONE (driver-side
    * manifest copy, data dirs borrowed) so gates that append, tag,
    * restore, compact, expire or vacuum mutate their own clone while
    * the base's files stay untouched — `expire` skips external dirs
    * by contract (VersionedTable.expire) and `vacuumOrphans` only
    * lists the clone's own data root. The one gate that PHYSICALLY
    * deletes its source (vt_clone_deep) keeps a private build via
    * [[vtLifecyclePrivate]]. */
  private def vtLifecycleBase(spark: SparkSession, sfDir: String): String =
    GraftSession.shared(s"vt_lifecycle#$sfDir") { d =>
      buildLifecycle(spark, sfDir, s"$d/tbl")
      s"$d/tbl"
    }

  private def vtLifecycle(spark: SparkSession, sfDir: String,
                          tag: String): String = {
    val root = GraftSession.scratch(tag) + "/tbl"
    graft.etl.VersionedTable.cloneShallow(
      spark, vtLifecycleBase(spark, sfDir), root)
    root
  }

  /** Private (non-shared) lifecycle for gates whose contract destroys
    * the source table itself. */
  private def vtLifecyclePrivate(spark: SparkSession, sfDir: String,
                                 tag: String): String = {
    val root = GraftSession.scratch(tag) + "/tbl"
    buildLifecycle(spark, sfDir, root)
    root
  }

  /** Change feed with ROW IMAGES (Delta CDF parity): v1's updates emit
    * their prior row (`U_pre`) alongside the new one (`U_post`), new
    * keys emit `I`, and v2's deletes emit the LIVE ROW they removed
    * (`D` carries the prior value, not the null-filled tombstone).
    * Summarized per (version, op) so the gate is scalar and exact —
    * the oracle recomputes each image class from the base table. */
  def vtChangeFeedImages(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtcfi")
    VersionedTable.readChangesWithImages(spark, root, Seq("event_id"), 0L, 2L)
      .groupBy(col("__commit").as("version"), col("__op").as("op"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("version", "op")
  }
  val vtChangeFeedImagesSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |upd AS (SELECT event_id, value FROM ev WHERE event_id % 7 = 0),
      |del AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev WHERE event_id % 5 = 0)
      |SELECT 1 AS version, 'I' AS op, 100 AS n, 500.0 AS total
      |UNION ALL
      |SELECT 1, 'U_pre', count(*), round(sum(value), 2) FROM upd
      |UNION ALL
      |SELECT 1, 'U_post', count(*), round(sum(value * 10), 2) FROM upd
      |UNION ALL
      |SELECT 2, 'D', count(*), round(sum(value), 2) FROM del
      |ORDER BY version, op""".stripMargin

  /** Incremental materialized-view maintenance from the image feed:
    * the MV (per-group count + sum) is computed as v0's aggregate plus
    * DELTA CONTRIBUTIONS only — `I`/`U_post` add their row, `D`/
    * `U_pre` subtract theirs — never re-reading the final table. The
    * oracle computes the final state DIRECTLY, so any error in the
    * image classes or the delta algebra surfaces as a mismatch. This
    * is the 100 TB shape for downstream aggregates: cost ∝ changes,
    * not table size. */
  def etlIncrementalMv(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vtmv")
    val grp = (col("event_id") % 10).as("grp")
    val base = VersionedTable.readAsOf(spark, root, Seq("event_id"), 0L)
      .select(grp, col("value").as("dv"), lit(1L).as("dn"))
    val deltas = VersionedTable
      .readChangesWithImages(spark, root, Seq("event_id"), 0L, 2L)
      .where(col("__commit") > 0)
      .select(grp,
        when(col("__op").isin("I", "U_post"), col("value"))
          .otherwise(-col("value")).as("dv"),
        when(col("__op") === "I", 1L)
          .when(col("__op") === "D", -1L).otherwise(0L).as("dn"))
    base.unionByName(deltas)
      .groupBy("grp")
      .agg(sum("dn").as("n"), round(sum("dv"), 2).as("total"))
      .orderBy("grp")
  }
  val etlIncrementalMvSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |live AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT event_id % 10 AS grp, count(*) AS n,
      |  round(sum(value), 2) AS total
      |FROM live GROUP BY 1 ORDER BY 1""".stripMargin

  /** Schema evolution across commits (Delta mergeSchema): v1 ADDS a
    * `tag` column the v0 snapshot never had; merge-on-read unions by
    * name, so pre-evolution rows read `tag` as null, and the
    * post-evolution delete (v2) borrows the WIDENED schema for its
    * tombstones. The gate aggregates the final state per tag — the
    * null group is the un-evolved remainder, coalesced to '__base'
    * so the group key is deterministic across engines. */
  def vtSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("vtse") + "/tbl"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    VersionedTable.init(spark, root, ev)                               // v0
    val widened = ev.where(col("event_id") % 6 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("tag", concat(lit("t"), (col("event_id") % 4).cast("string")))
    VersionedTable.commitWithRetry() {
      VersionedTable.commitUpsert(spark, root, widened)                // v1 +tag
    }
    VersionedTable.commitWithRetry() {
      VersionedTable.commitDelete(spark, root,
        ev.where(col("event_id") % 10 === 0).select("event_id"))       // v2
    }
    VersionedTable.readLatest(spark, root, Seq("event_id"))
      .groupBy(coalesce(col("tag"), lit("__base")).as("tag"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("tag")
  }
  val vtSchemaEvolutionSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1 AS (
      |  SELECT event_id, value * 2 AS value,
      |    't' || CAST(event_id % 4 AS VARCHAR) AS tag
      |  FROM ev WHERE event_id % 6 = 0),
      |merged AS (
      |  SELECT e.event_id,
      |    CASE WHEN v1.event_id IS NOT NULL THEN v1.value ELSE e.value END AS value,
      |    v1.tag AS tag
      |  FROM ev e LEFT JOIN v1 ON e.event_id = v1.event_id),
      |live AS (SELECT * FROM merged WHERE event_id % 10 <> 0)
      |SELECT coalesce(tag, '__base') AS tag, count(*) AS n,
      |  round(sum(value), 2) AS total
      |FROM live GROUP BY 1 ORDER BY 1""".stripMargin

  /** The table history view (Delta DESCRIBE HISTORY): one row per
    * commit with version, snapshot flag and PHYSICAL row count
    * (tombstones included — history reports what each commit wrote,
    * not live state). Runs the [[vtTimeTravel]] lifecycle, then gates
    * `VersionedTable.history`, which counts every version in ONE
    * unioned job. */
  def vtHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = vtLifecycle(spark, sfDir, "vth")                        // v0-v2
    VersionedTable.commitWithRetry() {
      VersionedTable.compact(spark, root, Seq("event_id"))             // v3
    }
    VersionedTable.history(spark, root).orderBy("version")
  }
  val vtHistorySql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id, value * 10 AS value FROM ev WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2keys AS (SELECT event_id FROM ev WHERE event_id % 5 = 0),
      |liverows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |live AS (
      |  SELECT * FROM liverows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 0 AS version, TRUE AS is_snapshot, count(*) AS n_rows FROM ev
      |UNION ALL
      |SELECT 1, FALSE, count(*) FROM v1rows
      |UNION ALL
      |SELECT 2, FALSE, count(*) FROM v2keys
      |UNION ALL
      |SELECT 3, TRUE, count(*) FROM live
      |ORDER BY version""".stripMargin

  val vtSql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |v1rows AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev
      |  UNION ALL
      |  SELECT 2000000 + i, 5.0 FROM range(100) t(i)),
      |v2rows AS (
      |  SELECT * FROM v1rows
      |  WHERE event_id >= 2000000 OR event_id % 5 <> 0)
      |SELECT 0 AS version, count(*) AS n, round(sum(value), 2) AS total FROM ev
      |UNION ALL
      |SELECT 1, count(*), round(sum(value), 2) FROM v1rows
      |UNION ALL
      |SELECT 2, count(*), round(sum(value), 2) FROM v2rows
      |UNION ALL
      |SELECT 3, count(*), round(sum(value), 2) FROM v2rows
      |ORDER BY version""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("vt_time_travel", vtTimeTravel, vtSql),
    Gate("vt_change_feed", vtChangeFeed, vtChangeFeedSql),
    Gate("vt_schema_evolution", vtSchemaEvolution, vtSchemaEvolutionSql),
    Gate("vt_history", vtHistory, vtHistorySql),
    Gate("vt_data_skipping", vtDataSkipping, vtDataSkippingSql),
    Gate("vt_point_lookup", vtPointLookup, vtPointLookupSql),
    Gate("vt_compact_zorder", vtCompactZorder, vtCompactZorderSql),
    Gate("vt_change_feed_images", vtChangeFeedImages, vtChangeFeedImagesSql),
    Gate("vt_restore", vtRestore, vtRestoreSql),
    Gate("vt_expire_vacuum", vtExpireVacuum, vtExpireVacuumSql),
    Gate("vt_purge_key", vtPurgeKey, vtPurgeKeySql),
    Gate("wap_gated_ingest", wapGatedIngest, wapGatedIngestSql),
    Gate("vt_clone_shallow", vtCloneShallow, vtCloneShallowSql),
    Gate("vt_clone_deep", vtCloneDeep, vtCloneDeepSql),
    Gate("vt_tags", vtTags, vtTagsSql),
    Gate("vt_stats_view", vtStatsView, vtStatsViewSql),
    Gate("vt_auto_compact", vtAutoCompact, vtAutoCompactSql),
    Gate("vt_replace_where", vtReplaceWhere, vtReplaceWhereSql),
    Gate("vt_merge_full_sync", vtMergeFullSync, vtMergeFullSyncSql),
    Gate("vt_constraints", vtConstraints, vtConstraintsSql),
    Gate("vt_merge_conditional", vtMergeConditional, vtMergeConditionalSql),
    Gate("vt_scd2_merge", vtScd2Merge, vtScd2Sql),
    Gate("vt_projected_read", vtProjectedRead, vtProjectedReadSql),
    Gate("etl_incremental_mv", etlIncrementalMv, etlIncrementalMvSql),
    Gate("range_join", rangeJoin, rangeJoinSql),
    Gate("pipeline_training_data", pipelineTrainingData, pipelineSql),
    Gate("asof_join", asofJoin, materialized(asofSql)),
    Gate("asof_nearest", asofNearestJoin, asofNearestSql),
    Gate("cat_index_docs", catIndexDocs, catIndexSql),
    Gate("upsert_merge", upsertMerge, upsertSql),
    Gate("o5_sessionize", o5Sessionize, sessionizeSql),
    Gate("o6_session_window", o6SessionWindow, o6Sql))
}
