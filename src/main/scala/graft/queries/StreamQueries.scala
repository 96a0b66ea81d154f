package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.sources.CsvSource
import graft.streaming.IngestionPipeline
import graft.streaming.IngestionPipeline.RouteSpec

/** Oracle-checked queries for the streaming layer: the T1/T2 ingestion
  * pipeline drained with Trigger.AvailableNow, and a watermarked
  * windowed aggregation — both end in deterministic batch-comparable
  * state. */
object StreamQueries extends graft.QueryModule {

  /** SHARED immutable feed bases (guide §1.4, the vt_* lifecycle-
    * fixture discipline, r16 verdict item 4): several t-gates start by
    * writing the SAME deterministic batch-1 feed derived from the
    * events table — an events-sized write repeated per gate in every
    * bench draw. Each distinct feed SHAPE is built once per sf dir;
    * a gate receives a PRIVATE clone via [[linkTree]] (hardlinks of
    * the immutable base part-files — never mutated; per-gate appends
    * only add new uniquely-named files), so per-gate appends,
    * checkpoints and streaming STATE stay fully isolated while the
    * shared base write is paid once. Every gate still drains
    * identical feed CONTENT through its own private stream — the
    * drains, state machines and version/quarantine protocols are
    * untouched (epoch counts pinned by StreamFixtureSpec). */
  private def feedBase(sfDir: String, variant: String)
                      (build: String => Unit): String =
    GraftSession.shared(s"feedbase_$variant#$sfDir") { d =>
      build(s"$d/base")
      s"$d/base"
    }

  /** Hardlink-clone the file tree at `src` into `dst` (copy fallback
    * for filesystems without link support; colliding names — e.g.
    * _SUCCESS when two bases land in one feed dir — fall back to a
    * replacing copy). */
  private def linkTree(src: String, dst: String): Unit = {
    import java.nio.file._
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.createDirectories(d)
    Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else
        try Files.createLink(t, p)
        catch { case _: Exception =>
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING); ()
        }
    }
  }

  /** Base feed of (event_id, value) — shared by t9/t10 (and t8 with
    * the op column, t11 with user_id, t12/t13 as halves). */
  private def ev2Base(spark: SparkSession, sfDir: String): String =
    feedBase(sfDir, "ev2") { p =>
      Tables.events(spark, sfDir).select(col("event_id"), col("value"))
        .write.parquet(p)
    }

  /** Drain the stream `df` to completion (Trigger.AvailableNow) into a
    * memory sink and return the sink's table, which the sink registers
    * in the session `df` was built from (the gate's isolated
    * [[GraftSession.stateScoped]] session). */
  private def drainToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = GraftSession.uniqueName("graft_stream")
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    df.sparkSession.table(name)
  }

  /** T1+T2: route-dispatched file ingestion raw→stage with control
    * rows; output = staged zone totals per route. */
  def t1StreamIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = GraftSession.scratch("stream")
    // routed raw CSV layout built ONCE per sf dir (shared feed base);
    // the gate clones it so its ingest index/control/stage state stays
    // private
    val routesBase = feedBase(sfDir, "routescsv") { p =>
      // one partitioned write instead of three filtered jobs
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("__route",
          when(col("user_id") < 75, "route_a")
            .when(col("user_id") < 140, "route_b").otherwise("junk"))
      ev.write.mode("overwrite").partitionBy("__route")
        .option("sep", "\t").option("header", "true").csv(s"$p/rawp")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      Seq("route_a", "route_b", "junk").foreach { r =>
        val src = java.nio.file.Paths.get(s"$p/rawp/__route=$r")
        val d = java.nio.file.Paths.get(s"$p/$r")
        // a route bucket can be empty at small SFs — keep the dir shape
        if (java.nio.file.Files.exists(src)) java.nio.file.Files.move(src, d)
        else java.nio.file.Files.createDirectories(d)
      }
      // drop the emptied write dir so clones carry only the route dirs
      val rawp = java.nio.file.Paths.get(s"$p/rawp")
      java.nio.file.Files.walk(rawp)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
    }
    linkTree(routesBase, s"$base/raw")

    val conf = IngestionPipeline.Config(
      schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      routes = Seq(
        RouteSpec("route_a", "/raw/route_a/[^/]+\\.csv$"),
        RouteSpec("route_b", "/raw/route_b/[^/]+\\.csv$")))
    val staged = IngestionPipeline.runAvailable(spark, conf, s"$base/raw/*",
      s"$base/stage", s"$base/control", s"$base/index", s"$base/ck")

    spark.read.schema(staged).parquet(s"$base/stage")
      .groupBy("route")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        countDistinct("user_id").as("n_users"))
      .orderBy("route")
  }
  val t1Sql: String =
    """SELECT CASE WHEN user_id < 75 THEN 'route_a' ELSE 'route_b' END AS route,
      |  count(*) AS n, round(sum(value), 2) AS total,
      |  count(DISTINCT user_id) AS n_users
      |FROM events WHERE user_id < 140
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** T6-adjacent: watermarked tumbling-window aggregation over the
    * events stream, drained to a memory sink in complete mode. */
  def t5StreamWindow(spark: SparkSession, sfDir: String): DataFrame = {
    // state parallelism sized to the drain's volume, scoped to this
    // query's isolated session (see GraftSession.stateScoped)
    GraftSession.stateScoped(spark, 8) { s =>
      // file stream source needs a directory base path: glob the one file
      val stream = Tables.eventsStream(s, sfDir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      drainToMemory(agg, "complete")
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("win_start", "event_type")
    }
  }
  val t5Sql: String =
    """SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS win_start,
      |  event_type, count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Windowed STREAMING cardinality sketch: per 6-hour event-time
    * window, the distinct-user estimate from the O(k)-state KMV
    * aggregate (plans.BoundedMinK) running INSIDE the streaming
    * aggregation — the state store holds k longs per window instead
    * of a distinct-user set, which is the only form a
    * count(DISTINCT) over an unbounded stream survives at scale
    * (streaming distinct aggregation is unsupported by Spark for
    * exactly this reason). The oracle replays the portable md5-based
    * hash, the k-min set and the floor estimate per window over the
    * batch table — exact-below-k windows check the small-cardinality
    * path, the rest the estimator. */
  def t14StreamKmv(spark: SparkSession, sfDir: String): DataFrame = {
    GraftSession.stateScoped(spark, 8) { s =>
      val stream = Tables.eventsStream(s, sfDir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"),
          graft.sketch.Sketches.kmvState(
            col("user_id").cast("string"), 16).as("__st"))
        .select(col("window"), col("n_events"),
          graft.sketch.Sketches.kmvEstimate(col("__st"), 16)
            .as("kmv_users"))
      drainToMemory(agg, "complete")
        .select(col("window.start").as("win_start"), col("n_events"),
          col("kmv_users"))
        .orderBy("win_start")
    }
  }
  val t14Sql: String =
    """WITH h AS (
      |  SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP))
      |      AS win_start,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS hv
      |  FROM events),
      |d AS (SELECT DISTINCT win_start, hv FROM h),
      |mk AS (
      |  SELECT win_start, list_sort(list(hv))[1:16] AS mins,
      |    count(*) AS nd
      |  FROM d GROUP BY 1),
      |n AS (SELECT win_start, count(*) AS n_events FROM h GROUP BY 1)
      |SELECT n.win_start, n.n_events,
      |  CASE WHEN mk.nd < 16 THEN mk.nd
      |       ELSE CAST(floor(15.0 * 1152921504606846976.0
      |                       / greatest(mins[16], 1)) AS BIGINT)
      |  END AS kmv_users
      |FROM n JOIN mk USING (win_start) ORDER BY win_start""".stripMargin

  /** T3 re-expressed: at-least-once delivery (every event arrives
    * twice via a self-union) collapsed to exactly-once by
    * watermark-scoped streaming dedup; output = per-type totals, which
    * must equal the plain single-delivery aggregate. */
  def t3StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // state parallelism sized to the drain's volume, scoped to this
    // query's isolated session (see GraftSession.stateScoped)
    GraftSession.stateScoped(spark, 8) { s =>
      val stream = Tables.eventsStream(s, sfDir)
      val atLeastOnce = stream.union(stream)
      val deduped = graft.streaming.StreamDedup.dedupWithinWatermark(
        atLeastOnce, Seq("event_id"), "ts", "30 days")
      drainToMemory(deduped, "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
          countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    }
  }
  val t3Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stream-stream interval join: clicks joined to the same user's
    * purchases within the following hour, both sides watermarked (the
    * state-bounding contract — without watermarks a stream-stream join
    * buffers forever). Aggregated per user-decile for a deterministic
    * scalar gate; oracle = the equivalent batch interval join. */
  def t7StreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // 8 state partitions: a stream-stream join keeps FOUR state stores
    // per partition, so the default 32 meant 128 instances paying
    // per-batch commit overhead for a 100k-event drain — measured
    // 14.2 s -> 4.2 s; scoped to this query's isolated session (see
    // GraftSession.stateScoped)
    GraftSession.stateScoped(spark, 8) { s =>
      def side(tpe: String, idAs: String, tsAs: String, valueAs: String) =
        Tables.eventsStream(s, sfDir)
          .where(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as(idAs),
            col("ts").as(tsAs), col("value").as(valueAs))
          .withWatermark(tsAs, "1 hour")
      val clicks = side("click", "click_id", "click_ts", "click_value")
      val purchases = side("purchase", "purchase_id", "purchase_ts", "purchase_value")
      val joined = clicks.join(purchases,
        clicks("user_id") === purchases("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(clicks("user_id"), col("click_id"), col("purchase_id"),
          col("purchase_value"))
      drainToMemory(joined, "append")
        .groupBy((col("user_id") % 10).as("user_decile"))
        .agg(count(lit(1)).as("n_attributed"),
          countDistinct(col("click_id")).as("n_clicks"),
          round(sum(col("purchase_value")), 2).as("attributed_value"))
        .orderBy("user_decile")
    }
  }
  val t7Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.user_id, c.click_id, p.purchase_id, p.purchase_value
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND p.purchase_ts >= c.click_ts
      |    AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
      |SELECT user_id % 10 AS user_decile, count(*) AS n_attributed,
      |  count(DISTINCT click_id) AS n_clicks,
      |  round(sum(purchase_value), 2) AS attributed_value
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** T8: CDC stream → versioned table, end-to-end. Two AvailableNow
    * drains through streaming.CdcIngest (foreachBatch + batch marker =
    * exactly-once table state): batch 1 full-loads the events feed
    * (v0), batch 2 applies updates (value×10 for every 7th key) and
    * deletes (every 5th key) as separate commits (v1, v2). The gate
    * reads the final merge-on-read state plus the commit count; the
    * oracle recomputes the surviving rows directly. */
  def t8CdcPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    import graft.streaming.CdcIngest
    val base = GraftSession.scratch("cdcp")
    val feed = s"$base/feed"; val root = s"$base/tbl"; val ck = s"$base/ck"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType),
      StructField("op", StringType)))
    def drain(s2: SparkSession): Unit =
      CdcIngest.runAvailable(s2,
        s2.readStream.schema(schema).parquet(feed),
        root, Seq("event_id"), "op", ck)
    GraftSession.stateScoped(spark, 8) { s2 =>
      // batch 1: initial load, all upserts (shared base feed)
      linkTree(feedBase(sfDir, "ev2op") { p =>
        Tables.events(spark, sfDir).select(col("event_id"), col("value"))
          .withColumn("op", lit("U")).write.parquet(p)
      }, feed)
      drain(s2)
      // batch 2: CDC tail — updates + tombstones land as new feed files
      ev.where(col("event_id") % 7 === 0)
        .withColumn("value", col("value") * 10).withColumn("op", lit("U"))
        .unionByName(ev.where(col("event_id") % 5 === 0)
          .withColumn("op", lit("D")))
        .write.mode("append").parquet(feed)
      drain(s2)
      VersionedTable.readLatest(s2, root, Seq("event_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("n"), col("total"),
          lit(VersionedTable.versions(s2, root).size).as("n_versions"))
    }
  }
  val t8Sql: String =
    """WITH ev AS (SELECT event_id, value FROM events),
      |live AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN value * 10 ELSE value END AS value
      |  FROM ev WHERE event_id % 5 <> 0)
      |SELECT count(*) AS n, round(sum(value), 2) AS total, 3 AS n_versions
      |FROM live""".stripMargin

  /** Streaming write-audit-publish: three feed appends drained
    * through AuditedIngest — the first bootstraps the table, the
    * second carries out-of-range rows and is QUARANTINED (full rows
    * preserved, no version created, stream keeps going), the third
    * commits normally on top. The final state must equal "good
    * batches only", the history must show exactly two versions, and
    * the quarantine must hold exactly the rejected rows. */
  def t9StreamAudited(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.{Quality, VersionedTable}
    import graft.streaming.AuditedIngest
    val base = GraftSession.scratch("audited")
    val feed = s"$base/feed"; val root = s"$base/tbl"; val ck = s"$base/ck"
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def audit(m: DataFrame): Seq[DataFrame] = Seq(
      Quality.complete(m, "value"),
      Quality.inRange(m, "value", 0.0, 10000.0))
    def drain(s2: SparkSession): Unit =
      AuditedIngest.runAvailable(s2,
        s2.readStream.schema(schema).parquet(feed),
        root, Seq("event_id"), ck, audit)
    GraftSession.stateScoped(spark, 8) { s2 =>
      linkTree(ev2Base(spark, sfDir), feed) // batch-1 feed (shared base)
      drain(s2)                                              // v0 bootstrap
      spark.range(50)
        .select((col("id") + 3000000).as("event_id"), lit(-5.0).as("value"))
        .write.mode("append").parquet(feed)
      drain(s2)                                              // quarantined
      ev.where(col("event_id") % 9 === 0)
        .withColumn("value", col("value") * 2)
        .write.mode("append").parquet(feed)
      drain(s2)                                              // v1
      VersionedTable.readLatest(s2, root, Seq("event_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("n"), col("total"),
          lit(VersionedTable.versions(s2, root).size.toLong).as("n_versions"),
          lit(AuditedIngest.quarantined(s2, root).count()).as("n_quarantined"))
    }
  }
  val t9Sql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT count(*) AS n,
      |  round(sum(CASE WHEN event_id % 9 = 0 THEN value * 2
      |    ELSE value END), 2) AS total,
      |  2 AS n_versions, 50 AS n_quarantined
      |FROM ev""".stripMargin

  /** Stream-static enrichment join — the production lookup shape: a
    * micro-batched event stream joined against a BATCH dimension
    * (customer segment) inside each micro-batch, appended to the
    * enriched zone, then aggregated. The static side re-resolves per
    * micro-batch (Spark's stream-static contract), and at scale it is
    * the broadcast side — no stream-side shuffle, no state store; the
    * oracle is the plain batch left join. Events with no matching
    * customer must SURVIVE with a sentinel segment (left join, not
    * inner — dropping unknown users is the classic enrichment bug). */
  def t11StreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val base = GraftSession.scratch("enrich")
    val feed = s"$base/feed"; val out = s"$base/enriched"
    val ck = s"$base/ck"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    GraftSession.stateScoped(spark, 8) { s2 =>
      linkTree(feedBase(sfDir, "ev3") { p =>
        Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"), col("value"))
          .write.parquet(p)
      }, feed)
      val dim = Tables.customer(s2, sfDir).select(
        col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val q = s2.readStream.schema(schema).parquet(feed)
        .join(broadcast(dim), Seq("user_id"), "left")
        .select(col("event_id"),
          coalesce(col("segment"), lit("(none)")).as("segment"),
          col("value"))
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      s2.read.parquet(out)
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("segment")
    }
  }
  val t11Sql: String =
    """SELECT coalesce(c.c_mktsegment, '(none)') AS segment,
      |  count(*) AS n, round(sum(e.value), 2) AS total
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming incremental materialized view: each micro-batch writes
    * its PARTIAL aggregate to an append-only `batch=<id>` dir
    * (idempotent per batch id — a replayed batch overwrites itself,
    * the same exactly-once idiom as the quarantine), and the view
    * reads as a re-aggregation of the partials. The partials are
    * group-cardinality-sized, so the MV never rewrites history and
    * the read-side compaction is tiny — the streaming counterpart of
    * etl_incremental_mv's CDF algebra. Two drains over a growing
    * feed; final MV must equal the direct batch aggregate. */
  def t12StreamMv(spark: SparkSession, sfDir: String): DataFrame = {
    val base = GraftSession.scratch("smv")
    val feed = s"$base/feed"; val mv = s"$base/mv"; val ck = s"$base/ck"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def half(p: String, m: Int): Unit =
      Tables.events(spark, sfDir).select(col("event_id"), col("value"))
        .where(col("event_id") % 2 === m).write.parquet(p)
    GraftSession.stateScoped(spark, 8) { s2 =>
      def drain(): Unit = {
        val q = s2.readStream.schema(schema).parquet(feed).writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.groupBy((col("event_id") % 10).as("grp"))
              .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
              .write.mode("overwrite").parquet(s"$mv/batch=$id")
            ()
          }
          .start()
        q.awaitTermination()
      }
      linkTree(feedBase(sfDir, "ev2even")(half(_, 0)), feed)
      drain()
      linkTree(feedBase(sfDir, "ev2odd")(half(_, 1)), feed)
      drain()
      s2.read.parquet(mv)
        .groupBy("grp")
        .agg(sum("pn").as("n"), round(sum("pv"), 2).as("total"))
        .orderBy("grp")
    }
  }
  val t12Sql: String =
    """SELECT event_id % 10 AS grp, count(*) AS n,
      |  round(sum(value), 2) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quarantine replay-after-fix — the second half of the WAP
    * contract (rejecting a poison batch is only useful if the
    * corrected data can later be landed): bootstrap the table, drain
    * a batch of out-of-range rows into the quarantine (no version
    * created), then REPLAY it through the same audit gate with a fix
    * that clamps the bad values — the repaired rows commit as a new
    * version and the quarantine empties. The final state must be
    * base + repaired rows, exactly two versions, zero rows left in
    * quarantine, and the replay must report one committed batch. */
  def t10QuarantineReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.{Quality, VersionedTable}
    import graft.streaming.AuditedIngest
    val base = GraftSession.scratch("replay")
    val feed = s"$base/feed"; val root = s"$base/tbl"; val ck = s"$base/ck"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    def audit(m: DataFrame): Seq[DataFrame] = Seq(
      Quality.complete(m, "value"),
      Quality.inRange(m, "value", 0.0, 10000.0))
    GraftSession.stateScoped(spark, 8) { s2 =>
      linkTree(ev2Base(spark, sfDir), feed) // batch-1 feed (shared base)
      AuditedIngest.runAvailable(s2,
        s2.readStream.schema(schema).parquet(feed),
        root, Seq("event_id"), ck, audit)                    // v0 bootstrap
      spark.range(50)
        .select((col("id") + 4000000).as("event_id"), lit(-7.5).as("value"))
        .write.mode("append").parquet(feed)
      AuditedIngest.runAvailable(s2,
        s2.readStream.schema(schema).parquet(feed),
        root, Seq("event_id"), ck, audit)                    // quarantined
      val nReplayed = AuditedIngest.replayAll(s2, root, Seq("event_id"),
        audit)(b => b.withColumn("value", abs(col("value"))))  // fix → v1
      VersionedTable.readLatest(s2, root, Seq("event_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("n"), col("total"),
          lit(VersionedTable.versions(s2, root).size.toLong).as("n_versions"),
          lit(AuditedIngest.quarantined(s2, root).count()).as("n_quarantined"),
          lit(nReplayed.toLong).as("n_replayed"))
    }
  }
  val t10Sql: String =
    """WITH ev AS (SELECT event_id, value FROM events)
      |SELECT count(*) + 50 AS n,
      |  round(sum(value) + 50 * 7.5, 2) AS total,
      |  2 AS n_versions, 0 AS n_quarantined, 1 AS n_replayed
      |FROM ev""".stripMargin

  /** Streaming sessionization with EXPLICIT keyed state
    * (Sessionize.streamingSessions, flatMapGroupsWithState): the one
    * genuinely custom-state operator in the repo, gated against the
    * batch ground truth. The feed lands in two time-ordered halves
    * (per-user event order must hold ACROSS micro-batches — state
    * only tracks the current session, so an out-of-order half would
    * diverge by design); after both drains the emitted set is every
    * session except each user's final still-open one. The oracle
    * replays the close rule at the same precision the state code
    * uses: integer-division seconds (`us // 1_000_000`), strict
    * `> gap`, then drops each user's max session id (the open
    * tail). */
  def t13StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Sessionize
    val base = GraftSession.scratch("ssess")
    val feed = s"$base/feed"; val out = s"$base/out"; val ck = s"$base/ck"
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val cutUs = 1705276800000000L // 2024-01-15T00:00:00Z
    def sessHalf(p: String, head: Boolean): Unit = {
      val ev = Tables.events(spark, sfDir).select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("ts_us"))
      (if (head) ev.where(col("ts_us") < cutUs)
       else ev.where(col("ts_us") >= cutUs)).write.parquet(p)
    }
    GraftSession.stateScoped(spark, 8) { s2 =>
      import s2.implicits._
      def drain(): Unit = {
        val src = s2.readStream.schema(schema).parquet(feed)
          .as[Sessionize.SessionEvent]
        val q = Sessionize.streamingSessions(src, gapSeconds = 1800)
          .writeStream.option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet").option("path", out).start()
        q.awaitTermination()
      }
      linkTree(feedBase(sfDir, "sesshead")(sessHalf(_, head = true)), feed)
      drain()
      linkTree(feedBase(sfDir, "sesstail")(sessHalf(_, head = false)), feed)
      drain()
      s2.read.parquet(out)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .orderBy("user_id", "session_start_us")
    }
  }
  val t13Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |      OR (us // 1000000) - (lag(us) OVER w // 1000000) > 1800
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sid, min(us) AS session_start_us,
      |    max(us) AS session_end_us, count(*) AS n_events
      |  FROM sess GROUP BY 1, 2),
      |mx AS (SELECT user_id, max(sid) AS m FROM agg GROUP BY 1)
      |SELECT a.user_id, a.session_start_us, a.session_end_us, a.n_events
      |FROM agg a JOIN mx ON a.user_id = mx.user_id
      |WHERE a.sid < mx.m
      |ORDER BY a.user_id, a.session_start_us""".stripMargin

  /** Streaming top-k maintenance: a leaderboard of the highest-value
    * users kept current by MERGING per-batch partial aggregates into a
    * keyed state table (VersionedTable), the foreachBatch shape every
    * "top accounts" dashboard runs. Delta 1 (the even half) seeds the
    * state as a static batch; delta 2 (the odd half) arrives as a
    * stream and folds in through the same merge — state rows are
    * summed, never replaced, so the final state must equal the
    * single-pass batch aggregate over the full table (what the oracle
    * computes). Per-batch work is batch-sized + state-sized keyed
    * aggregation; the top-k extraction ranks the ROUNDED total (both
    * engines order the identical 2dp value, user-id tie-break). */
  def t15StreamTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.VersionedTable
    val root = GraftSession.scratch("stream_topk") + "/state"
    def partial(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(sum("value").as("v"), count(lit(1)).as("n_events"))
    def mergeInto(s: SparkSession, delta: DataFrame): Unit = {
      val merged = VersionedTable.readLatest(s, root, Seq("user_id"))
        .select("user_id", "v", "n_events")
        .unionByName(partial(delta))
        .groupBy("user_id")
        .agg(sum("v").as("v"), sum("n_events").as("n_events"))
      VersionedTable.commitUpsert(s, root, merged)
    }
    GraftSession.stateScoped(spark, 8) { s =>
      val ev = Tables.events(s, sfDir)
      VersionedTable.init(s, root,
        partial(ev.where(col("event_id") % 2 === 0)))        // delta 1
      val q = Tables.eventsStream(s, sfDir)
        .where(col("event_id") % 2 === 1)                    // delta 2
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          mergeInto(batch.sparkSession, batch.toDF())
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          GraftSession.scratch("stream_topk_ckpt"))
        .start()
      q.awaitTermination()
      VersionedTable.readLatest(s, root, Seq("user_id"))
        .select(col("user_id"), col("n_events"),
          round(col("v"), 2).as("total_value"))
        .orderBy(round(col("v"), 2).desc, col("user_id"))
        .limit(10)
    }
  }
  val t15Sql: String =
    """SELECT user_id, n_events, total_value FROM (
      |  SELECT user_id, count(*) AS n_events,
      |    round(sum(value), 2) AS total_value
      |  FROM events GROUP BY 1)
      |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("t13_stream_sessions", t13StreamSessions, t13Sql),
    Gate("t14_stream_kmv", t14StreamKmv, t14Sql),
    Gate("t15_stream_topk", t15StreamTopk, t15Sql),
    Gate("t11_stream_static_join", t11StreamStaticJoin, t11Sql),
    Gate("t12_stream_mv", t12StreamMv, t12Sql),
    Gate("t10_quarantine_replay", t10QuarantineReplay, t10Sql),
    Gate("t9_stream_audited", t9StreamAudited, t9Sql),
    Gate("t1_stream_ingest", t1StreamIngest, t1Sql),
    Gate("t5_stream_window", t5StreamWindow, t5Sql),
    Gate("t3_stream_dedup", t3StreamDedup, t3Sql),
    Gate("t7_stream_join", t7StreamJoin, t7Sql),
    Gate("t8_cdc_pipeline", t8CdcPipeline, t8Sql))
}
