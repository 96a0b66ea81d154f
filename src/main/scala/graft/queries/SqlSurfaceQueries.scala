package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Gate, QueryModule}
import graft.core.Tables
import graft.ext.GraftExtensions

/** Gate queries for the SQL function surface (ext/GraftExtensions):
  * the native kernels must be reachable from spark.sql(...) text, not
  * only the DataFrame API — that is what makes the library usable from
  * JDBC/thrift/SQL-only clients. */
object SqlSurfaceQueries extends QueryModule {

  /** KMV mins through SQL: per-language smallest/4th-smallest distinct
    * md5 hash of the text column via min_k_distinct. */
  def sqlMinK(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("g_docs")
    spark.sql("""
      SELECT lang,
             element_at(mk, 1) AS h1,
             element_at(mk, 4) AS h4
      FROM (
        SELECT lang,
               min_k_distinct(CAST(conv(substring(md5(text), 1, 15), 16, 10)
                 AS BIGINT), 4) AS mk
        FROM g_docs GROUP BY lang)
      ORDER BY lang""")
  }

  val sqlMinKSql: String =
    """WITH h AS (
      |  SELECT DISTINCT lang,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv FROM documents),
      |mk AS (SELECT lang, list_sort(list(hv))[1:4] AS mins FROM h GROUP BY lang)
      |SELECT lang, mins[1] AS h1, mins[4] AS h4 FROM mk ORDER BY lang""".stripMargin

  /** Exact top-1 cosine neighbor for vec_id < 5, written entirely in
    * SQL with the dot_product kernel. */
  def sqlDot(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("g_emb")
    spark.sql("""
      SELECT query_id, neighbor_id, cos FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(dot_product(q.embedding, c.embedding) /
                 (sqrt(dot_product(q.embedding, q.embedding)) *
                  sqrt(dot_product(c.embedding, c.embedding))), 4) + 0.0 AS cos,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(dot_product(q.embedding, c.embedding) /
                   (sqrt(dot_product(q.embedding, q.embedding)) *
                    sqrt(dot_product(c.embedding, c.embedding))), 4) + 0.0 DESC,
                 c.vec_id ASC) AS r
        FROM g_emb q JOIN g_emb c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5)
      WHERE r = 1 ORDER BY query_id""")
  }

  val sqlDotSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
      |SELECT query_id, neighbor_id, cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(generate_series(1, len(q.v)),
      |      i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) + 0.0 AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_sum(list_transform(generate_series(1, len(q.v)),
      |        i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) + 0.0 DESC,
      |      c.vec_id ASC) AS r
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 5) t
      |WHERE r = 1 ORDER BY query_id""".stripMargin

  /** Portable SimHash signatures straight from SQL text — the oracle
    * replays the md5-derived bit votes HUGEINT-exactly (same idiom as
    * dedup_simhash). */
  def sqlSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    graft.dedup.Shingles.docShingles(
        Tables.documents(spark, sfDir).select("doc_id", "text"),
        "doc_id", "text", 3)
      .createOrReplaceTempView("g_shingles")
    spark.sql("""
      SELECT doc_id, simhash_sig(shingles, true) AS sig
      FROM g_shingles ORDER BY doc_id""")
  }

  val sqlSimhashSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM d WHERE len(t) >= 3),
      |f AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(g), 1, 8))::BIGINT::HUGEINT * 4294967296
      |      + ('0x' || substr(md5(g), 9, 8))::BIGINT::HUGEINT AS hu
      |  FROM f),
      |votes AS (
      |  SELECT doc_id, b.bit,
      |    sum(CASE WHEN (hu // (1::HUGEINT << b.bit)) % 2 = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
      |  GROUP BY doc_id, b.bit),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS su
      |  FROM votes GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(CASE WHEN su >= 9223372036854775808 THEN su - 18446744073709551616
      |    ELSE su END AS BIGINT) AS sig
      |FROM sig ORDER BY doc_id""".stripMargin

  /** The O(k)-heap top-k aggregate from SQL text: top-3 lineitems per
    * returnflag by (quantity, orderkey, linenumber) — the struct's
    * lexicographic order makes the ranking total, so a window replay
    * matches exactly. */
  def sqlTopK(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("g_li")
    spark.sql("""
      SELECT l_returnflag, pos + 1 AS rank, e.q AS qty, e.okey AS okey,
             e.line AS line
      FROM (
        SELECT l_returnflag,
               bounded_top_k(named_struct(
                 'q', l_quantity, 'okey', l_orderkey,
                 'line', l_linenumber), 3) AS top
        FROM g_li GROUP BY l_returnflag)
      LATERAL VIEW posexplode(top) t AS pos, e
      ORDER BY l_returnflag, rank""")
  }

  val sqlTopKSql: String =
    """SELECT l_returnflag, rank, qty, okey, line FROM (
      |  SELECT l_returnflag, l_quantity AS qty, l_orderkey AS okey,
      |    l_linenumber AS line,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity DESC, l_orderkey DESC, l_linenumber DESC) AS rank
      |  FROM lineitem) t
      |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin

  /** The unicode kernels through SQL text: decomposed/accented input
    * normalized and folded inside a spark.sql query. */
  def sqlNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("g_docs_n")
    // decomposed "e" + U+0301, then precomposed U+00C5 and U+00F6
    val accented = "Cafe\u0301 \u00C5ngstr\u00F6m "
    spark.sql(s"""
      SELECT doc_id,
        length(nfc_normalize(concat('$accented', text))) AS len_nfc,
        substring(strip_accents(concat('$accented', text)), 1, 24) AS plain_head
      FROM g_docs_n ORDER BY doc_id""")
  }
  val sqlNormalizeSql: String =
    """SELECT doc_id,
      |  length(nfc_normalize('Cafe' || chr(769) || ' ' || chr(197) ||
      |    'ngstr' || chr(246) || 'm ' || text)) AS len_nfc,
      |  substr(strip_accents('Cafe' || chr(769) || ' ' || chr(197) ||
      |    'ngstr' || chr(246) || 'm ' || text), 1, 24) AS plain_head
      |FROM documents ORDER BY doc_id""".stripMargin

  /** WITH RECURSIVE (Spark 4's UnionLoop operator): iterative SQL
    * without leaving the engine. The walk follows the implicit
    * parent-pointer tree key → floor(key/2) from every customer to the
    * root, so the recursion depth (≈ log₂ keyspace) and row counts are
    * exact functions of the data — DuckDB replays the identical
    * recursion. The iteration state each round is one row per still-
    * walking node, never the closure so far: UnionLoop materializes
    * per-step deltas, the semi-naive shape that survives scale. */
  def sqlRecursiveCte(spark: SparkSession, sfDir: String): DataFrame =
    // valve sized to data for THIS query only (this recursion descends
    // a strictly-shrinking key, so depth — not the default 1M-row
    // total — is the meaningful guard); every other query keeps the
    // session default
    graft.core.GraftSession.confScoped(spark,
      "spark.sql.cteRecursionRowLimit" -> Int.MaxValue.toString) { s2 =>
    Tables.customer(s2, sfDir).createOrReplaceTempView("g_cust")
    s2.sql("""
      WITH RECURSIVE walk AS (
        SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM g_cust
        UNION ALL
        SELECT node, CAST(floor(cur / 2) AS BIGINT) AS cur, depth + 1 AS depth
        FROM walk WHERE cur > 0)
      SELECT depth, count(*) AS n FROM (
        SELECT node, max(depth) AS depth FROM walk GROUP BY node) t
      GROUP BY depth ORDER BY depth""")
  }
  val sqlRecursiveCteSql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
      |  UNION ALL
      |  SELECT node, CAST(floor(cur / 2) AS BIGINT) AS cur, depth + 1 AS depth
      |  FROM walk WHERE cur > 0)
      |SELECT depth, count(*) AS n FROM (
      |  SELECT node, max(depth) AS depth FROM walk GROUP BY node) t
      |GROUP BY depth ORDER BY depth""".stripMargin

  /** Correlated LATERAL subquery with per-row LIMIT: top-2 nations by
    * customer count for each region, written as SQL-standard lateral
    * text (the JDBC/SQL-client spelling of the x_topk_per_group
    * DataFrame gate). Catalyst decorrelates the per-row subquery into
    * a ranked join — no per-region re-execution. */
  def sqlLateralTopk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.region(spark, sfDir).createOrReplaceTempView("g_region")
    Tables.nation(spark, sfDir).createOrReplaceTempView("g_nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("g_cust")
    spark.sql("""
      SELECT r.r_name, t.n_name, t.n_customers
      FROM g_region r, LATERAL (
        SELECT n.n_name, count(*) AS n_customers
        FROM g_nation n JOIN g_cust c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n_name
        LIMIT 2) t
      ORDER BY r_name, n_customers DESC, n_name""")
  }
  val sqlLateralTopkSql: String =
    """SELECT r.r_name, t.n_name, t.n_customers
      |FROM region r, LATERAL (
      |  SELECT n.n_name, count(*) AS n_customers
      |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.r_regionkey
      |  GROUP BY n.n_name
      |  ORDER BY n_customers DESC, n_name
      |  LIMIT 2) t
      |ORDER BY r_name, n_customers DESC, n_name""".stripMargin

  /** Explicit NULLS FIRST / NULLS LAST ordering: Spark defaults nulls
    * FIRST on ASC where DuckDB defaults them LAST, so any gate relying
    * on default null placement is silently engine-dependent — this
    * gate pins the EXPLICIT forms both engines honor identically.
    * Rows are ranked over a nullable key both ways; the null-keyed
    * group must take rank 1 in one ordering and rank N in the other. */
  def sqlNullOrdering(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir).createOrReplaceTempView("g_ev_no")
    spark.sql("""
      WITH g AS (
        SELECT nullif(event_type, 'click') AS k, count(*) AS n
        FROM g_ev_no GROUP BY 1)
      SELECT coalesce(k, '__null') AS k, n,
        rank() OVER (ORDER BY k ASC NULLS FIRST)  AS r_first,
        rank() OVER (ORDER BY k ASC NULLS LAST)   AS r_last,
        rank() OVER (ORDER BY k DESC NULLS FIRST) AS r_desc_first
      FROM g ORDER BY k""")
  }
  val sqlNullOrderingSql: String =
    """WITH g AS (
      |  SELECT nullif(event_type, 'click') AS k, count(*) AS n
      |  FROM events GROUP BY 1)
      |SELECT coalesce(k, '__null') AS k, n,
      |  rank() OVER (ORDER BY k ASC NULLS FIRST)  AS r_first,
      |  rank() OVER (ORDER BY k ASC NULLS LAST)   AS r_last,
      |  rank() OVER (ORDER BY k DESC NULLS FIRST) AS r_desc_first
      |FROM g ORDER BY k""".stripMargin

  /** Datetime function surface with ENGINE-PORTABLE semantics only:
    * month/quarter truncation, month arithmetic, month-end, day
    * difference. Deliberately excluded: dayofweek (Spark Sunday=1,
    * DuckDB Sunday=0), weekofyear (ISO vs non-ISO), and anything
    * TZ-sensitive — the gate pins the portable subset a cross-engine
    * pipeline may rely on. */
  def sqlDatetimeFns(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("g_ord_dt")
    spark.sql("""
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
        CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        last_day(CAST(o_orderdate AS DATE)) AS month_end,
        add_months(CAST(o_orderdate AS DATE), 2) AS plus2m,
        datediff(CAST(o_orderdate AS DATE), DATE '2024-01-01') AS d_since,
        count(*) AS n
      FROM g_ord_dt
      GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 5""")
  }
  val sqlDatetimeFnsSql: String =
    """SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS mth,
      |  CAST(date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS qtr,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS plus2m,
      |  date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS d_since,
      |  count(*) AS n
      |FROM orders
      |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 5""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("sql_datetime_fns", sqlDatetimeFns, sqlDatetimeFnsSql),
    Gate("sql_null_ordering", sqlNullOrdering, sqlNullOrderingSql),
    Gate("sql_min_k_distinct", sqlMinK, sqlMinKSql),
    Gate("sql_dot_product", sqlDot, sqlDotSql),
    Gate("sql_normalize", sqlNormalize, sqlNormalizeSql),
    Gate("sql_simhash_sig", sqlSimhash, sqlSimhashSql),
    Gate("sql_bounded_top_k", sqlTopK, sqlTopKSql),
    Gate("sql_recursive_cte", sqlRecursiveCte, sqlRecursiveCteSql),
    Gate("sql_lateral_topk", sqlLateralTopk, sqlLateralTopkSql))
}
