package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.sources.{CsvSource, JdbcIO, Sinks}
import graft.etl.Promote

/** Oracle-checked queries for the source/sink surface (SURVEY.md §2.1
  * S1-S9, W1-W5, §2.8 R1): each writes testdata through the preset
  * under test into a scratch dir (or embedded Derby), reads it back,
  * and aggregates — the oracle computes the same aggregate from the
  * original parquet, so any roundtrip corruption hash-mismatches. */
object SourceQueries extends graft.QueryModule {

  /** S1: ``-separated headerless CSV with "null" literals. */
  def s1CsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s1")
    val src = Tables.lineitem(spark, sfDir)
      .where(col("l_orderkey") % 5 === 0)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
        nullif(col("l_returnflag"), lit("N")).as("l_returnflag"), col("l_shipdate"))
    CsvSource.writeSep1(src, dir)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampType)))
    CsvSource.readSep1(spark, schema, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"),
        max(col("l_shipdate").cast("date")).as("max_ship"))
      .orderBy(col("l_returnflag").asc_nulls_first)
  }
  val s1Sql: String =
    """SELECT nullif(l_returnflag, 'N') AS l_returnflag, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  max(CAST(l_shipdate AS DATE)) AS max_ship
      |FROM lineitem WHERE l_orderkey % 5 = 0
      |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** S2: `;`-separated CSV with header. */
  def s2CsvSemicolon(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s2")
    CsvSource.writeSemicolon(Tables.customer(spark, sfDir), dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    CsvSource.readSemicolon(spark, schema, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }
  val s2Sql: String =
    """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** S3: tab-separated CSV read via an explicit Hadoop-FS file list. */
  def s3CsvTabFileList(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s3")
    CsvSource.writeTab(Tables.supplier(spark, sfDir).repartition(3), dir)
    val files = CsvSource.listDataFiles(spark, dir)
    require(files.nonEmpty, "file listing returned no csv parts")
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
    CsvSource.readTabFileList(spark, schema, files)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("sum_bal"))
      .orderBy("s_nationkey")
  }
  val s3Sql: String =
    """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin

  /** S4: headerless quoted CSV, inferred schema, positional rename. */
  def s4CsvInferQuote(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s4")
    CsvSource.writeQuote(
      Tables.events(spark, sfDir).select("event_id", "event_type", "value", "props"), dir)
    CsvSource.readInferredQuote(spark, dir)
      .selectExpr("_c0 as event_id", "_c1 as event_type", "_c2 as value", "_c3 as props")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
        sum(length(col("props"))).as("props_chars"))
      .orderBy("event_type")
  }
  val s4Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
      |  CAST(sum(length(props)) AS BIGINT) AS props_chars
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** S5: catalog table scan with LIMIT-1 schema probe then full scan. */
  def s5TableScan(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.region(spark, sfDir).createOrReplaceTempView("t_region")
    Tables.nation(spark, sfDir).createOrReplaceTempView("t_nation")
    val probed = spark.table("t_region").limit(1).schema // O1 schema probe
    require(probed.fieldNames.contains("r_name"))
    spark.sql(
      """SELECT r.r_name, count(*) AS n_nations
        |FROM t_region r JOIN t_nation n ON r.r_regionkey = n.n_regionkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)
  }
  val s5Sql: String =
    """SELECT r_name, count(*) AS n_nations
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S6+W5: FK-ordered JDBC write (region→nation) into embedded Derby,
    * then a range-partitioned parallel JDBC read back and join. */
  def s6JdbcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    JdbcIO.writeLeveled(url, Seq(
        "REGION" -> Tables.region(spark, sfDir),
        "NATION" -> Tables.nation(spark, sfDir)),
      Map("NATION" -> Seq("REGION")), SaveMode.Overwrite)
    val nation = JdbcIO.readPartitioned(spark, url, "NATION",
      "n_nationkey", 0, 25, 4)
    val region = JdbcIO.read(spark, url, "REGION")
    nation.join(broadcast(region),
        nation("n_regionkey") === region("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }
  val s6Sql: String =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  /** S7+W4: JSON write, schema-imposed JSON read, plus the reference's
    * toJSON→read.json re-parse round trip. */
  def s7JsonSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s7")
    val src = Tables.orders(spark, sfDir).where(col("o_orderkey") % 7 === 0)
    Sinks.jsonOverwrite(src, dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    val fromDisk = Sinks.readJson(spark, schema, dir)
    // reference re-parse: serialize rows to JSON strings, parse with schema
    val reparsed = spark.read.schema(schema).json(fromDisk.toJSON)
    reparsed
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        max(col("o_orderdate").cast("date")).as("max_date"))
      .orderBy("o_orderpriority")
  }
  val s7Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  max(CAST(o_orderdate AS DATE)) AS max_date
      |FROM orders WHERE o_orderkey % 7 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** W1+S9: parquet overwrite → parquet scan (filter pushed down). */
  def w1ParquetRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("w1")
    Sinks.parquetOverwrite(
      Tables.lineitem(spark, sfDir).where(col("l_quantity") > 25), dir)
    spark.read.parquet(dir)
      .where(col("l_discount") > 0.02)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("l_linestatus")
  }
  val w1Sql: String =
    """SELECT l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem WHERE l_quantity > 25 AND l_discount > 0.02
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** S13: `binaryFile` datasource — the opaque-blob read path every
    * multimodal pipeline starts from (image/audio shards land as raw
    * files; Spark lists, splits and streams them as (path, content)
    * rows). Fixture: the first 20 documents written as UTF-8 .txt
    * blobs; the gate reads them back as binary, keys each blob by the
    * id parsed from its filename, and proves content integrity by
    * md5 + byte length against the oracle's view of the same text. */
  def s13BinaryFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s13")
    new java.io.File(dir).mkdirs()
    Tables.documents(spark, sfDir).where(col("doc_id") < 20)
      .select("doc_id", "text").collect()
      .foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"${r.getLong(0)}%05d.txt"),
          r.getString(1).getBytes("UTF-8"))
      }
    spark.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        md5(col("content")).as("content_md5"),
        length(col("content")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }
  val s13Sql: String =
    """SELECT doc_id, md5(text) AS content_md5,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  /** S14: schema-drift read via parquet `mergeSchema` — the raw-zone
    * reality where a producer ADDED a column mid-stream: batch 1 lands
    * without `o_orderstatus`, batch 2 with it; the merged read must
    * union the schemas, null-fill the early rows, and keep every row.
    * (mergeSchema is opt-in per read because schema inference over
    * many footers costs a listing pass — at 100 TB the production
    * pattern is a table-format schema log, `vt_schema_evolution`;
    * this is the raw-file fallback.) */
  def s14SchemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s14")
    val o = Tables.orders(spark, sfDir)
    o.where(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.parquet(s"$dir/batch=1")
    o.where(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.parquet(s"$dir/batch=2")
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce(col("o_orderstatus"), lit("(pre-schema)"))
        .as("status"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("status")
  }
  val s14Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-schema)'
      |  ELSE o_orderstatus END AS status,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** S15: native XML source (Spark 4 ships the former spark-xml as a
    * built-in format) — the B2B/legacy-feed interchange path. Write a
    * projection as `<order>` rows, read it back with an IMPOSED
    * schema (inference costs an extra full scan, the S1-S4 rule), and
    * prove the typed roundtrip by aggregating against the parquet
    * original. */
  def s15XmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s15")
    Tables.orders(spark, sfDir).where(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").format("xml").option("rowTag", "order")
      .save(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    spark.read.format("xml").option("rowTag", "order").schema(schema)
      .load(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }
  val s15Sql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  max(o_orderkey) AS max_key
      |FROM orders WHERE o_orderkey % 5 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** W2: dynamic-partition overwrite — rewrite ONE day, keep the rest. */
  def w2DynamicPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("w2")
    val ev = Tables.events(spark, sfDir)
      .withColumn("dt", col("ts").cast("date"))
      .select("event_id", "value", "dt")
    Sinks.dynamicPartitionOverwrite(ev, "dt", dir)
    val minDt = ev.agg(min("dt")).head().getDate(0)
    val patched = ev.where(col("dt") === lit(minDt))
      .withColumn("value", col("value") * 2)
    Sinks.dynamicPartitionOverwrite(patched, "dt", dir) // only minDt replaced
    spark.read.parquet(dir)
      .groupBy("dt")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("dt")
  }
  val w2Sql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt, count(*) AS n,
      |  round(sum(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) =
      |    (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events)
      |    THEN value * 2 ELSE value END), 2) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** R1: one output file per partition value, without collapsing to a
    * single task. */
  def r1OneFilePerPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("r1")
    val o = Tables.orders(spark, sfDir)
      .withColumn("yr", year(col("o_orderdate")))
    Sinks.writeOneFilePerPartition(o, "yr", dir, parallelism = 8)
    spark.read.parquet(dir)
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("yr")
  }
  val r1Sql: String =
    """SELECT year(o_orderdate) AS yr, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** R2: small-file compaction (the reference's Glue repartition job)
    * — 16 input files coalesced to 2, values intact. */
  def r2Compact(spark: SparkSession, sfDir: String): DataFrame = {
    val in = GraftSession.scratch("r2-in")
    val out = GraftSession.scratch("r2-out")
    Tables.supplier(spark, sfDir).repartition(16)
      .write.mode("overwrite").parquet(in)
    Sinks.compact(spark, in, out, targetPartitions = 2)
    spark.read.parquet(out)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("sum_bal"))
      .orderBy("s_nationkey")
  }
  val r2Sql: String =
    """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin

  /** End-to-end promotion job (§7.2): tab raw zone → parse F1b → derive
    * dt (F3) → one file per partition (R1) → analytics scan. */
  def etlPromoteE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val rawDir = GraftSession.scratch("raw")
    val analyticsDir = GraftSession.scratch("analytics")
    val raw = Tables.events(spark, sfDir).select(
      date_format(col("ts"), "dd.MM.yyyy HH:mm:ss.SSSSSS").as("date_time"),
      col("user_id"), col("event_type"), col("value"))
    CsvSource.writeTab(raw, rawDir)
    val conf = Promote.Config(
      delimiter = Promote.Tab,
      schema = StructType(Seq(
        StructField("date_time", StringType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))),
      parses = Seq(Promote.ParseSpec("date_time", "ts_micros")),
      partitionFrom = Some(("date_time", "dt",
        (c: org.apache.spark.sql.Column) => c.cast("date"))),
      filesPerPartition = 8)
    val written = Promote.run(spark, conf, rawDir, analyticsDir)
    spark.read.schema(written).parquet(analyticsDir)
      .groupBy("dt")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
        countDistinct("user_id").as("n_users"))
      .orderBy("dt")
  }
  val etlSql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt, count(*) AS n,
      |  round(sum(value), 2) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Wide-schema promotion at the reference's hottest real shape: the
    * 64-column `tb_call_req` raw→analytics job
    * (`artifacts/hive_create_table/tb_call_req-raw.hql:4-64`, `` =
    * -separated, headerless; `spark_submit_tb_call_req_parquet
    * .py` promotes it with a year(open_date) partition). The gate
    * builds a deterministic 64-column call-req-shaped corpus from
    * events, round-trips it through the  CSV raw zone, promotes
    * via Promote (imposed schema, date parse, derived year partition,
    * dynamic-partition layout), and aggregates columns from BOTH ends
    * of the row so a width-handling bug anywhere in the parse cannot
    * hash-hide. */
  def etlPromoteWide(spark: SparkSession, sfDir: String): DataFrame = {
    val rawDir = GraftSession.scratch("wideraw")
    val analyticsDir = GraftSession.scratch("widean")
    val ev = Tables.events(spark, sfDir)
    // open_date spread over ~3 years so the year partition is real
    // (×13 scatters the small user_id range across the 1100-day span)
    val openDate = date_add(col("ts").cast("date"),
      ((col("user_id") * 13) % 1100).cast("int"))
    val head = Seq(
      col("event_id").cast("int").as("id"),
      concat(lit("p"), col("user_id")).as("persid"),
      concat(lit("r"), col("event_id")).as("ref_num"),
      concat(lit("case "), col("event_type")).as("summary"),
      col("event_type").as("status"),
      (col("event_id") % 2).cast("int").as("active_flag"),
      date_format(openDate, "yyyy.MM.dd").as("open_date"),
      (col("user_id") % 5).cast("int").as("priority"),
      (col("user_id") % 4).cast("int").as("severity"),
      concat(lit("t"), col("user_id") % 3).as("tenant"),
      col("value"))
    val strings = (1 to 27).map(i =>
      concat(lit("s"), (col("user_id") * i) % 97).as(s"string$i"))
    val nums = (1 to 26).map(i =>
      ((col("user_id") * i) % (i + 10)).cast("int").as(s"num$i"))
    val raw = ev.select(head ++ strings ++ nums: _*) // 11 + 27 + 26 = 64
    CsvSource.writeSep1(raw, rawDir)
    val schema = StructType(
      Seq(StructField("id", IntegerType), StructField("persid", StringType),
        StructField("ref_num", StringType), StructField("summary", StringType),
        StructField("status", StringType), StructField("active_flag", IntegerType),
        StructField("open_date", StringType), StructField("priority", IntegerType),
        StructField("severity", IntegerType), StructField("tenant", StringType),
        StructField("value", DoubleType)) ++
      (1 to 27).map(i => StructField(s"string$i", StringType)) ++
      (1 to 26).map(i => StructField(s"num$i", IntegerType)))
    val conf = Promote.Config(
      delimiter = Promote.Sep1,
      schema = schema,
      parses = Seq(Promote.ParseSpec("open_date", "date_dots")),
      partitionFrom = Some(("open_date", "year",
        (c: org.apache.spark.sql.Column) => year(c))),
      filesPerPartition = 4)
    val written = Promote.run(spark, conf, rawDir, analyticsDir)
    spark.read.schema(written).parquet(analyticsDir)
      .groupBy("year")
      .agg(count(lit(1)).as("n"),
        countDistinct("persid").as("n_persids"),
        sum("active_flag").as("sum_active"),
        sum("priority").as("sum_priority"),
        sum("num7").as("sum_num7"),
        sum("num26").as("sum_num26"),
        max("string13").as("max_string13"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("year")
  }
  val etlWideSql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, value,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE)
      |      + CAST((user_id * 13) % 1100 AS INT) AS open_date
      |  FROM events)
      |SELECT CAST(year(open_date) AS INT) AS year, count(*) AS n,
      |  count(DISTINCT 'p' || user_id) AS n_persids,
      |  CAST(sum(event_id % 2) AS BIGINT) AS sum_active,
      |  CAST(sum(user_id % 5) AS BIGINT) AS sum_priority,
      |  CAST(sum((user_id * 7) % 17) AS BIGINT) AS sum_num7,
      |  CAST(sum((user_id * 26) % 36) AS BIGINT) AS sum_num26,
      |  max('s' || ((user_id * 13) % 97)) AS max_string13,
      |  round(sum(value), 2) AS sum_value
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** S11 (format surface beyond the reference, free on Spark): ORC
    * write/read roundtrip. ORC is the other splittable columnar
    * container a lake migration meets; the roundtrip pins schema +
    * value fidelity (timestamps included) and the read-side filter
    * reaches the ORC scan as a pushed predicate, same as parquet. */
  def s11OrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("s11")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate")
      .write.mode(SaveMode.Overwrite).orc(dir)
    spark.read.orc(dir)
      .where(col("l_quantity") > 25)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        max(col("l_shipdate").cast("date")).as("max_ship"))
      .orderBy("l_returnflag")
  }
  val s11Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS sum_price,
      |  max(CAST(l_shipdate AS DATE)) AS max_ship
      |FROM lineitem WHERE l_quantity > 25
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hive-style partition-directory pruning: events written
    * partitioned by day, read back with a single-day predicate — the
    * filter must land in PartitionFilters (directory-level pruning,
    * zero IO for other days; asserted on the plan in PerfSpec-style
    * inline check here via a hard failure if the filter column shows
    * in the data-filter ReadSchema) and the values must match the
    * oracle's filtered aggregate. */
  def r5PartitionPrunedRead(spark: SparkSession, sfDir: String): DataFrame = {
    val path = GraftSession.scratch("ppr")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"), col("ts").cast("date").as("dt"))
    ev.write.mode(SaveMode.Overwrite).partitionBy("dt").parquet(path)
    val minDt = ev.agg(min("dt")).head().getDate(0)
    val read = spark.read.parquet(path).where(col("dt") === lit(minDt))
    val plan = read.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters: [isnotnull(dt"),
      s"day predicate did not reach PartitionFilters:\n$plan")
    read.agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
  }
  val r5Sql: String =
    """WITH ev AS (
      |  SELECT event_id, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt
      |  FROM events)
      |SELECT count(*) AS n, round(sum(value), 2) AS total
      |FROM ev WHERE dt = (SELECT min(dt) FROM ev)""".stripMargin

  /** Corrupt-file-tolerant scan: a torn object (garbage bytes, no
    * parquet magic) planted among good files must be SKIPPED, not
    * fail the job — the multi-writer data-lake reality where an
    * interrupted upload leaves a partial object. Tolerance is scoped
    * to the READ via the datasource option (never session-wide —
    * silently skipping corrupt files on every scan would turn data
    * loss into wrong answers); the oracle computes the good files'
    * contents, so a skipped GOOD file or a crash both fail the
    * gate. */
  def s12CorruptTolerant(spark: SparkSession, sfDir: String): DataFrame = {
    val path = GraftSession.scratch("corrupt")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"))
      .where(col("event_id") < 1000)
    ev.write.mode(SaveMode.Overwrite).parquet(path)
    val torn = new java.io.FileOutputStream(
      s"$path/part-99999-torn.snappy.parquet")
    try torn.write(("NOTPARQUET" * 100).getBytes("UTF-8"))
    finally torn.close()
    spark.read.option("ignoreCorruptFiles", "true").parquet(path)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
  }
  val s12Sql: String =
    """SELECT count(*) AS n, round(sum(value), 2) AS total
      |FROM events WHERE event_id < 1000""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("s12_corrupt_tolerant", s12CorruptTolerant, s12Sql),
    Gate("r5_partition_pruned_read", r5PartitionPrunedRead, r5Sql),
    Gate("s1_csv_roundtrip", s1CsvRoundtrip, s1Sql),
    Gate("s2_csv_semicolon", s2CsvSemicolon, s2Sql),
    Gate("s3_csv_tab_filelist", s3CsvTabFileList, s3Sql),
    Gate("s4_csv_infer_quote", s4CsvInferQuote, s4Sql),
    Gate("s5_table_scan", s5TableScan, s5Sql),
    Gate("s6_jdbc_roundtrip", s6JdbcRoundtrip, s6Sql),
    Gate("s7_json_schema", s7JsonSchema, s7Sql),
    Gate("s11_orc_roundtrip", s11OrcRoundtrip, s11Sql),
    Gate("s13_binary_files", s13BinaryFiles, s13Sql),
    Gate("s14_schema_merge", s14SchemaMerge, s14Sql),
    Gate("s15_xml_roundtrip", s15XmlRoundtrip, s15Sql),
    Gate("w1_parquet_roundtrip", w1ParquetRoundtrip, w1Sql),
    Gate("w2_dynamic_partition", w2DynamicPartition, w2Sql),
    Gate("r1_one_file_per_partition", r1OneFilePerPartition, r1Sql),
    Gate("r2_compact", r2Compact, r2Sql),
    Gate("etl_promote_e2e", etlPromoteE2e, etlSql),
    Gate("etl_promote_wide", etlPromoteWide, etlWideSql))
}
