package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.sources.{CsvSource, JdbcIO, Sinks}

/** Closes the remaining SURVEY.md §2 inventory lines not already
  * exercised elsewhere: P1/P3 (aliased + struct-field projection), J9
  * (reverse name-equality join), W3 (partitioned external table), S10
  * (JDBC → delimited text export, the Sqoop-import analog). */
object CoverageQueries extends graft.QueryModule {

  /** P1+P3+F18: struct packing then `item.*`-style flatten. */
  def p1p3StructProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val packed = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"),
        struct(col("c_name").as("name"), col("c_mktsegment").as("segment"),
          col("c_acctbal").as("balance")).as("item"))
    packed.select(col("id"), col("item.*"))
      .select(col("id"), col("name"), col("segment"),
        round(col("balance"), 2).as("balance"))
      .orderBy("id")
  }
  val p1p3Sql: String =
    """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
      |  round(c_acctbal, 2) AS balance
      |FROM customer ORDER BY 1""".stripMargin

  /** J9: reverse-direction join on NAMES (tables⋈dbs by name, reference
    * hive_metastore_migration.py:938-940). */
  def j9JoinByName(spark: SparkSession, sfDir: String): DataFrame = {
    val entities = Tables.nation(spark, sfDir)
      .select(lower(col("n_name")).as("table_name"),
        col("n_regionkey").as("rk"))
    val dbNames = Tables.region(spark, sfDir)
      .select(lower(col("r_name")).as("db_name"), col("r_regionkey"))
    entities.join(dbNames, entities("rk") === dbNames("r_regionkey"), "inner")
      .select(col("table_name"), col("db_name"))
      .orderBy("table_name")
  }
  val j9Sql: String =
    """SELECT lower(n_name) AS table_name, lower(r_name) AS db_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY 1""".stripMargin

  /** W3: partitioned EXTERNAL table via saveAsTable(path=...), read
    * back through the catalog. */
  def w3SaveAsTable(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("w3")
    val name = GraftSession.uniqueName("graft_w3_events")
    val ev = Tables.events(spark, sfDir)
      .withColumn("dt", col("ts").cast("date"))
      .select("event_id", "event_type", "value", "dt")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Sinks.saveAsExternalTable(ev, name, "dt", dir)
    spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        countDistinct("dt").as("n_days"))
      .orderBy("event_type")
  }
  val w3Sql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
      |  count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** S10: the Sqoop-import analog — JDBC table → `` delimited
    * text with newline replacement (reference
    * `artifacts/sqoop/jobs/job_sampledb.sh:33-50`), re-read with an
    * imposed schema. */
  def s10JdbcExport(spark: SparkSession, sfDir: String): DataFrame = {
    val url = s"jdbc:derby:memory:graftexp${System.nanoTime()};create=true"
    JdbcIO.write(Tables.part(spark, sfDir), url, "PART", SaveMode.Overwrite)
    val fromDb = JdbcIO.readPartitioned(spark, url, "PART",
      "p_partkey", 0, 2000, 4)
      // sqoop --hive-delims-replacement: strip row/field delims from text
      .withColumn("p_name", regexp_replace(col("p_name"), "[\n\r]", " "))
    val dir = GraftSession.scratch("s10")
    CsvSource.writeSep1(fromDb, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p_partkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_brand",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_size",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("p_retailprice",
        org.apache.spark.sql.types.DoubleType)))
    CsvSource.readSep1(spark, schema, dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("total_price"))
      .orderBy("p_brand")
  }
  val s10Sql: String =
    """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total_price
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  /** Data-quality constraint suite (etl.Quality, the Deequ idea):
    * five checks over the TPC-H-ish tables — key uniqueness, null
    * completeness, FK orphans, numeric range, accepted enum values —
    * evaluated in one action; only the FK check shuffles. */
  def profileConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.Quality
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    Quality.suite(Seq(
      Quality.unique(orders, Seq("o_orderkey")),
      Quality.complete(customer, "c_name"),
      Quality.refIntegrity(lineitem, "l_orderkey", orders, "o_orderkey"),
      Quality.inRange(lineitem, "l_discount", 0.0, 0.1),
      Quality.acceptedValues(orders, "o_orderstatus", Seq("O", "F", "P"))))
  }
  val constraintsSql: String =
    """SELECT check_name, violations, n_checked, violations = 0 AS pass FROM (
      |  SELECT 'unique(o_orderkey)' AS check_name,
      |    CAST((SELECT coalesce(sum(c - 1), 0) FROM
      |      (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)) AS BIGINT) AS violations,
      |    (SELECT count(*) FROM orders) AS n_checked
      |  UNION ALL
      |  SELECT 'complete(c_name)',
      |    CAST((SELECT coalesce(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0)
      |     FROM customer) AS BIGINT),
      |    (SELECT count(*) FROM customer)
      |  UNION ALL
      |  SELECT 'ref(l_orderkey->o_orderkey)',
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'range(l_discount)',
      |    CAST((SELECT coalesce(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
      |        THEN 1 ELSE 0 END), 0) FROM lineitem) AS BIGINT),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'accepted(o_orderstatus)',
      |    CAST((SELECT coalesce(sum(CASE WHEN o_orderstatus IS NULL
      |        OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0)
      |     FROM orders) AS BIGINT),
      |    (SELECT count(*) FROM orders))
      |ORDER BY check_name""".stripMargin

  /** O4: `df.show(n)` inspection, made oracle-checkable. The rendered
    * table is captured off the console and parsed back: the row count
    * inside the frame, the frame borders, and the first rendered cell
    * must all round-trip — so the display path (truncation, ordering,
    * cell formatting) is pinned by the same hash gate as every other
    * operator instead of staying display-only. */
  def o4ShowCapture(spark: SparkSession, sfDir: String): DataFrame = {
    val df = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      df.show(5, truncate = false)
    }
    val lines = new String(buf.toByteArray, "UTF-8")
      .linesIterator.toSeq.filter(_.nonEmpty)
    val borders = lines.count(_.startsWith("+"))
    val dataLines = lines.filter(_.startsWith("|")).drop(1) // header first
    val firstKey = dataLines.head.split('|')(1).trim.toLong
    spark.range(1).select(
      lit(dataLines.size).as("n_rows_rendered"),
      lit(borders).as("n_borders"),
      lit(firstKey).as("first_key"))
  }
  val o4Sql: String =
    """SELECT 5 AS n_rows_rendered, 3 AS n_borders,
      |  CAST(min(o_orderkey) AS BIGINT) AS first_key
      |FROM orders""".stripMargin

  /** R3: input-split pinning via `spark.sql.files.maxPartitionBytes`
    * (the reference pins 512 MB splits; GraftSession.build does the
    * same). The gate writes a byte-exact 22,000,000-byte uncompressed
    * CSV (2M fixed-width rows) and plans it under two scoped sessions
    * at 64 KB / 256 KB splits with openCost=0 — partition counts must
    * equal ceil(bytes / split) exactly (336 / 84), proving the knob
    * reaches the scan. Parallelism-safe while bytesPerCore ≥ the
    * split size, i.e. up to 83 cores at this file size. */
  def r3SplitPinning(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = GraftSession.scratch("r3split")
    val file = new java.io.File(dir, "data.csv")
    val w = new java.io.BufferedWriter(new java.io.FileWriter(file), 1 << 20)
    try {
      var i = 1
      while (i <= 2000000) { w.write(f"$i%010d"); w.write("\n"); i += 1 }
    } finally w.close()
    def partsAt(maxBytes: Long): Int = {
      val s2 = GraftSession.tune(spark.newSession())
      s2.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
      s2.conf.set("spark.sql.files.openCostInBytes", "0")
      s2.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))))
        .csv(file.getAbsolutePath).rdd.getNumPartitions
    }
    spark.range(1).select(
      lit(partsAt(64L * 1024)).as("parts_64k"),
      lit(partsAt(256L * 1024)).as("parts_256k"),
      lit(file.length()).as("n_bytes"))
  }
  val r3Sql: String =
    """SELECT 336 AS parts_64k, 84 AS parts_256k,
      |  CAST(22000000 AS BIGINT) AS n_bytes""".stripMargin

  /** R4: `rdd.getNumPartitions` introspection (the reference logs the
    * post-read and post-repartition counts to size its write). The
    * gate pins the introspected count through each layout operator it
    * drives: an explicit repartition(7), a coalesce(3) on top (narrow
    * — must not exceed its parent's count), and a keyed
    * repartition(5, col) — all exact; plus the row count to prove the
    * reshapes lost nothing. */
  def r4NumPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir).select("o_orderkey")
    val wide = orders.repartition(7)
    val narrow = wide.coalesce(3)
    val keyed = orders.repartition(5, col("o_orderkey"))
    spark.range(1).select(
      lit(wide.rdd.getNumPartitions).as("parts_repart"),
      lit(narrow.rdd.getNumPartitions).as("parts_coalesce"),
      lit(keyed.rdd.getNumPartitions).as("parts_keyed"),
      lit(narrow.count()).as("n_rows"))
  }
  val r4Sql: String =
    """SELECT 7 AS parts_repart, 3 AS parts_coalesce, 5 AS parts_keyed,
      |  count(*) AS n_rows FROM orders""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("r4_num_partitions", r4NumPartitions, r4Sql),
    Gate("p1p3_struct_projection", p1p3StructProjection, p1p3Sql),
    Gate("j9_join_by_name", j9JoinByName, j9Sql),
    Gate("w3_save_as_table", w3SaveAsTable, w3Sql),
    Gate("profile_constraints", profileConstraints, constraintsSql),
    Gate("o4_show_capture", o4ShowCapture, o4Sql),
    Gate("r3_split_pinning", r3SplitPinning, r3Sql),
    Gate("s10_jdbc_export", s10JdbcExport, s10Sql))
}
