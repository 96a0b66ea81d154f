package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables
import graft.functions._

/** Oracle-checked queries for the scalar-function surface (SURVEY.md
  * §2.7 F1-F23). Each derives its inputs from the testdata tables
  * (formatting real timestamps to strings, injecting bad rows for the
  * null-on-failure paths) so both engines compute from identical
  * inputs. */
object FunctionQueries extends graft.QueryModule {

  /** F1: the three reference date/timestamp parse formats, including a
    * parse-failure row every 100 keys (must yield null, non-ANSI). */
  def f1ParseDates(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    o.withColumn("s1", date_format(col("o_orderdate"), "yyyy.MM.dd"))
      .withColumn("s2", date_format(col("o_orderdate"), "dd.MM.yyyy HH:mm:ss.SSSSSS"))
      .withColumn("s3", when(col("o_orderkey") % 100 === 0, lit("not a date"))
        .otherwise(date_format(col("o_orderdate"), "dd/MM/yyyy HH:mm:ss")))
      .select(col("o_orderkey"),
        TimeFns.parseDateDots(col("s1")).as("d1"),
        TimeFns.parseTimestampMicros(col("s2")).as("t2"),
        TimeFns.parseTimestampSlash(col("s3")).as("t3"))
      .orderBy("o_orderkey")
  }
  val f1Sql: String =
    """SELECT o_orderkey,
      |  CAST(try_strptime(strftime(o_orderdate, '%Y.%m.%d'), '%Y.%m.%d') AS DATE) AS d1,
      |  try_strptime(strftime(o_orderdate, '%d.%m.%Y %H:%M:%S.%f'), '%d.%m.%Y %H:%M:%S.%f') AS t2,
      |  try_strptime(CASE WHEN o_orderkey % 100 = 0 THEN 'not a date'
      |    ELSE strftime(o_orderdate, '%d/%m/%Y %H:%M:%S') END, '%d/%m/%Y %H:%M:%S') AS t3
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** F2+F3: derived partition columns `year` and `dt`. */
  def f2f3YearDt(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(TimeFns.yearOf(col("o_orderdate")).as("yr"),
        TimeFns.toDt(col("o_orderdate")).as("dt"))
      .groupBy("yr", "dt").agg(count(lit(1)).as("n"))
      .orderBy("yr", "dt")
  val f2f3Sql: String =
    """SELECT year(o_orderdate) AS yr, CAST(o_orderdate AS DATE) AS dt, count(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** F4: escape `\ | " { : }` with backslashes. */
  def f4EscapeChars(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        StringFns.escapeChars(
          concat(col("p_name"), lit(" {k:\"v\"|x}\\end"))).as("escaped"))
      .orderBy("p_partkey")
  val f4Sql: String =
    """SELECT p_partkey,
      |  regexp_replace(p_name || ' {k:"v"|x}\end', '([\\|"{:}])', '\\\1', 'g') AS escaped
      |FROM part ORDER BY p_partkey""".stripMargin

  /** F5+F6: length-prefixed encode of a token array, and the guarded
    * string-list decode (with a corrupt row every 7 docs → []). */
  def f5f6Codec(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    d.withColumn("toks", slice(split(col("text"), " "), 1, 5))
      .withColumn("listStr",
        when(col("doc_id") % 7 === 0, lit("corrupt"))
          .otherwise(concat(lit("2%['"), col("source"), lit("', '"),
            col("lang"), lit("']"))))
      .select(col("doc_id"),
        StringFns.skewedValuesToStr(col("toks")).as("encoded"),
        array_join(Codecs.decodeStringList(col("listStr")), "|").as("decoded"))
      .orderBy("doc_id")
  }
  val f5f6Sql: String =
    """SELECT doc_id,
      |  array_to_string(list_transform(string_split(text, ' ')[1:5],
      |    x -> CAST(length(x) AS VARCHAR) || '%' || x), '') AS encoded,
      |  CASE WHEN doc_id % 7 = 0 THEN '' ELSE source || '|' || lang END AS decoded
      |FROM documents ORDER BY doc_id""".stripMargin

  /** F7: s3a/s3n → s3 scheme normalization. */
  def f7S3Normalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("loc",
        when(col("doc_id") % 3 === 0, concat(lit("s3a://bkt/"), col("source")))
          .when(col("doc_id") % 3 === 1, concat(lit("s3n://bkt/"), col("source")))
          .otherwise(concat(lit("s3://bkt/"), col("source"))))
      .select(col("doc_id"), StringFns.normalizeS3Scheme(col("loc")).as("loc"))
      .orderBy("doc_id")
  val f7Sql: String =
    """SELECT doc_id, regexp_replace(
      |  CASE WHEN doc_id % 3 = 0 THEN 's3a://bkt/' || source
      |       WHEN doc_id % 3 = 1 THEN 's3n://bkt/' || source
      |       ELSE 's3://bkt/' || source END,
      |  '^s3[an]://', 's3://') AS loc
      |FROM documents ORDER BY doc_id""".stripMargin

  /** F8+F15+F16+F17: prefix, concat join key, id cast, lit type tag. */
  def f8PrefixKeyTags(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .select(
        StringFns.addPrefix(col("n_name"), "dl_").as("prefixed"),
        StringFns.concatKey(col("n_name"), col("n_regionkey").cast("string")).as("join_key"),
        col("n_nationkey").cast("string").as("id_str"),
        lit("table").as("type"))
      .orderBy("prefixed")
  val f8Sql: String =
    """SELECT 'dl_' || n_name AS prefixed,
      |  n_name || CAST(n_regionkey AS VARCHAR) AS join_key,
      |  CAST(n_nationkey AS VARCHAR) AS id_str,
      |  'table' AS type
      |FROM nation ORDER BY 1""".stripMargin

  /** F9: unix seconds → Gson-compatible "MMM dd, yyyy hh:mm:ss a". */
  def f9Iso8601(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(col("event_id"),
        TimeFns.utcSecondsToIso8601(
          col("ts").cast("long")).as("gson_time"))
      .orderBy("event_id")
  }
  val f9Sql: String =
    """SELECT event_id,
      |  strftime(date_trunc('second', CAST(ts AS TIMESTAMP)), '%b %d, %Y %I:%M:%S %p') AS gson_time
      |FROM events ORDER BY event_id""".stripMargin

  /** F10: milliseconds-string → whole seconds, null → 0 (every 10th). */
  def f10MsToSeconds(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("ms_str",
        when(col("event_id") % 10 === 0, lit(null).cast("string"))
          .otherwise((col("event_id") * 1234 + 567).cast("string")))
      .select(col("event_id"), TimeFns.msStringToSeconds(col("ms_str")).as("secs"))
      .orderBy("event_id")
  val f10Sql: String =
    """SELECT event_id,
      |  CASE WHEN event_id % 10 = 0 THEN 0
      |    ELSE (event_id * 1234 + 567) // 1000 END AS secs
      |FROM events ORDER BY event_id""".stripMargin

  /** F11: posexplode replaces the reference's array→index-map UDF. */
  def f11Posexplode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")
  val f11Sql: String =
    """SELECT doc_id,
      |  unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
      |  unnest(string_split(text, ' ')) AS token
      |FROM documents WHERE doc_id < 20 ORDER BY 1, 2""".stripMargin

  /** F12: partition name from keys structs + vals arrays (empty vals
    * every 10th key → ""). */
  def f12PartitionName(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = array(
      struct(lit("year").as("name"), lit("int").as("type")),
      struct(lit("month").as("name"), lit("int").as("type")))
    Tables.orders(spark, sfDir)
      .withColumn("vals",
        when(col("o_orderkey") % 10 === 0, array().cast("array<string>"))
          .otherwise(array(year(col("o_orderdate")).cast("string"),
            month(col("o_orderdate")).cast("string"))))
      .select(col("o_orderkey"),
        StringFns.partitionName(keys, col("vals")).as("part_name"))
      .orderBy("o_orderkey")
  }
  val f12Sql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 10 = 0 THEN ''
      |    ELSE 'year(int),month(int)=' || CAST(year(o_orderdate) AS VARCHAR)
      |      || ',' || CAST(month(o_orderdate) AS VARCHAR) END AS part_name
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** F21: DynamoDB typed-JSON decode (N/S/M tags) checked field-wise
    * against the source columns. */
  def f21DdbDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val typed = Tables.events(spark, sfDir)
      .withColumn("ddb", concat(
        lit("{\"uid\":{\"N\":\""), col("user_id"),
        lit("\"},\"etype\":{\"S\":\""), col("event_type"),
        lit("\"},\"nested\":{\"M\":{\"v\":{\"N\":\""),
        round(col("value"), 2).cast("string"), lit("\"}}}}")))
    // schema-directed decode: ONE from_json parse + codegen'd struct
    // projection (the r3 shape was UDF decode + 3 get_json_object
    // re-parses = 4 JSON passes per row)
    val shape = org.apache.spark.sql.types.StructType.fromDDL(
      "uid BIGINT, etype STRING, nested STRUCT<v: DOUBLE>")
    val decoded = typed.withColumn("plain",
      DdbJson.decodeDdbTyped(col("ddb"), shape))
    decoded.select(col("event_id"),
        col("plain.uid").as("uid"),
        col("plain.etype").as("etype"),
        col("plain.nested.v").as("v"))
      .orderBy("event_id")
  }
  val f21Sql: String =
    """SELECT event_id, user_id AS uid, event_type AS etype,
      |  round(value, 2) AS v
      |FROM events ORDER BY event_id""".stripMargin

  /** F22: header sanitization against the reference whitelist. */
  def f22Sanitize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        StringFns.sanitizeHeader(
          concat(col("p_name"), lit("#@!"), col("p_brand"), lit("%^"))).as("header"))
      .orderBy("p_partkey")
  val f22Sql: String =
    """SELECT p_partkey,
      |  regexp_replace(p_name || '#@!' || p_brand || '%^',
      |    '[^-_ .&'',$A-Za-z0-9]', '', 'g') AS header
      |FROM part ORDER BY p_partkey""".stripMargin

  /** F23: md5 hex digest document ids. */
  def f23Md5(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), StringFns.md5Id(col("text")).as("doc_md5"))
      .orderBy("doc_id")
  val f23Sql: String =
    "SELECT doc_id, md5(text) AS doc_md5 FROM documents ORDER BY doc_id"

  /** Semi-structured column surface: the events.props JSON string
    * parsed three ways — path extraction (get_json_object), schema'd
    * parse (from_json), and re-serialization (to_json over a struct,
    * whose compact field:value form the oracle rebuilds verbatim). */
  /** F27: the higher-order-function suite — filter / aggregate /
    * exists / transform / zip_with in one per-row array program over
    * the token array, all codegen'd (no UDF anywhere). zip_with of
    * the array against its own tail computes adjacent-repeat counts —
    * the HOF spelling of a self-join-free sequential statistic. Sizes
    * cast to long: Spark `size` is INT while DuckDB `len` is BIGINT
    * (the dtype-mismatch pitfall). */
  def f27HofSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')").as("t"))
      .select(col("doc_id"),
        expr("size(filter(t, x -> length(x) >= 6))")
          .cast("long").as("n_long"),
        expr("aggregate(t, 0L, (acc, x) -> acc + length(x))")
          .as("total_chars"),
        expr("cast(exists(t, x -> x = 'spark') as int)").as("has_spark"),
        expr("array_max(transform(t, x -> length(x)))")
          .cast("long").as("max_len"),
        expr("size(filter(zip_with(slice(t, 1, greatest(size(t) - 1, 0))," +
          " slice(t, 2, greatest(size(t) - 1, 0)), (a, b) -> a = b), x -> x))")
          .cast("long").as("n_adjacent_repeats"))
      .orderBy("doc_id")
  val f27Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(list_filter(t, x -> length(x) >= 6)) AS n_long,
      |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
      |    AS total_chars,
      |  CAST(list_contains(t, 'spark') AS INT) AS has_spark,
      |  list_max(list_transform(t, x -> length(x))) AS max_len,
      |  len(list_filter(generate_series(1, len(t) - 1),
      |    i -> t[i] = t[i + 1])) AS n_adjacent_repeats
      |FROM d ORDER BY doc_id""".stripMargin

  def f25JsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val kPath = get_json_object(col("props"), "$.k").cast("int")
    val kSchema = from_json(col("props"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k")
    ev.select(col("event_id"), kPath.as("k_path"), kSchema.as("k_schema"),
        to_json(struct(col("event_id"), kPath.as("k"))).as("rebuilt"))
      .orderBy("event_id")
  }
  val f25Sql: String =
    """SELECT event_id,
      |  CAST(props->>'k' AS INT) AS k_path,
      |  CAST(props->>'k' AS INT) AS k_schema,
      |  '{"event_id":' || event_id || ',"k":' || CAST(props->>'k' AS INT)
      |    || '}' AS rebuilt
      |FROM events ORDER BY event_id""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("f1_parse_dates", f1ParseDates, f1Sql),
    Gate("f2f3_year_dt", f2f3YearDt, f2f3Sql),
    Gate("f4_escape_chars", f4EscapeChars, f4Sql),
    Gate("f5f6_codec", f5f6Codec, f5f6Sql),
    Gate("f7_s3_normalize", f7S3Normalize, f7Sql),
    Gate("f8_prefix_key_tags", f8PrefixKeyTags, f8Sql),
    Gate("f9_iso8601", f9Iso8601, f9Sql),
    Gate("f10_ms_to_seconds", f10MsToSeconds, f10Sql),
    Gate("f11_posexplode", f11Posexplode, f11Sql),
    Gate("f12_partition_name", f12PartitionName, f12Sql),
    Gate("f21_ddb_decode", f21DdbDecode, f21Sql),
    Gate("f22_sanitize", f22Sanitize, f22Sql),
    Gate("f23_md5", f23Md5, f23Sql),
    Gate("f25_json_props", f25JsonProps, f25Sql),
    Gate("f27_hof_suite", f27HofSuite, f27Sql))
}
