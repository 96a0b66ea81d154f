package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Gate, QueryModule}
import graft.core.Tables
import graft.sketch.Sketches

/** Sketch/profiling gate queries: deterministic, oracle-replayable
  * approximate statistics (see graft.sketch.Sketches for why the
  * portable-hash family replaces opaque engine-native HLL/theta
  * implementations; round 12 added a REAL HyperLogLog on top of the
  * same portable hash — graft.sketch.Hll — whose integer-only rank
  * and exact-integer denominator make it replayable too).
  */
object SketchQueries extends QueryModule {

  private val K = 16 // KMV size: error ~ 1/sqrt(16) = 25%, exact below 16

  /** Per-language distinct-text cardinality via KMV: the O(k)-state
    * groupBy that replaces count(DISTINCT) at corpus scale. */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.distinctByGroup(
      Tables.documents(spark, sfDir), "lang", "text", K)
      .orderBy("lang")

  val kmvSql: String =
    s"""WITH h AS (
       |  SELECT lang, ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv
       |  FROM documents),
       |d AS (SELECT DISTINCT lang, hv FROM h),
       |mk AS (
       |  SELECT lang, list_sort(list(hv))[1:$K] AS mins, count(*) AS nd
       |  FROM d GROUP BY lang),
       |n AS (SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang)
       |SELECT n.lang, n.n_rows,
       |  CASE WHEN mk.nd < $K THEN mk.nd
       |       ELSE CAST(floor(${K - 1}.0 * 1152921504606846976.0
       |                       / greatest(mins[$K], 1)) AS BIGINT)
       |  END AS kmv_distinct
       |FROM n JOIN mk USING (lang) ORDER BY lang""".stripMargin

  private val OverlapK = 128 // pairwise-overlap KMV size: error ~ 9%

  /** Cross-corpus overlap: word-bigram vocabulary overlap between
    * language groups, estimated from per-group KMV sketches via the
    * SIGMOD'07 set algebra (union closure + Jaccard numerator) — the
    * 100 TB answer to "how much does corpus A share with corpus B"
    * without ever joining the corpora: each group shrinks to k longs,
    * and the comparison is a broadcast join over the sketch table. */
  def corpusOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dedup.Shingles
    val docs = Tables.documents(spark, sfDir)
    // bind the token array before the shingle lambda (HOF re-eval pitfall)
    val grams = docs
      .select(col("lang"), Shingles.tokens(lower(col("text"))).as("__toks"))
      .select(col("lang"),
        explode(Shingles.shinglesFromTokens(col("__toks"), 2)).as("bg"))
    val st = grams.groupBy("lang")
      .agg(Sketches.kmvState(col("bg"), OverlapK).as("st"))
    Sketches.overlapEstimates(st, "lang", "st", OverlapK)
      .orderBy("lang_a", "lang_b")
  }

  val corpusOverlapSql: String =
    s"""WITH t AS (
       |  SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT DISTINCT lang, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS hv
       |  FROM (SELECT lang,
       |          unnest(list_transform(generate_series(1, len(toks) - 1),
       |                                i -> toks[i] || ' ' || toks[i + 1])) AS bg
       |        FROM t)),
       |mk AS (SELECT lang, list_sort(list(hv))[1:$OverlapK] AS mins
       |       FROM w GROUP BY lang),
       |pairs AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.mins AS ma, b.mins AS mb,
       |    list_sort(list_distinct(a.mins || b.mins))[1:$OverlapK] AS mu
       |  FROM mk a JOIN mk b ON a.lang < b.lang),
       |est AS (
       |  SELECT lang_a, lang_b,
       |    CASE WHEN len(mu) < $OverlapK THEN len(mu)
       |         ELSE CAST(floor(${OverlapK - 1}.0 * 1152921504606846976.0
       |                         / greatest(mu[$OverlapK], 1)) AS BIGINT)
       |    END AS union_est,
       |    len(list_filter(mu,
       |      x -> list_contains(ma, x) AND list_contains(mb, x))) AS overlap_k,
       |    least($OverlapK, len(mu)) AS kk
       |  FROM pairs)
       |SELECT lang_a, lang_b, union_est, overlap_k,
       |  CAST(floor(CAST(overlap_k AS DOUBLE) * union_est / kk) AS BIGINT)
       |    AS inter_est
       |FROM est ORDER BY lang_a, lang_b""".stripMargin

  private val CmDepth = 4  // hash rows
  private val CmWidth = 64 // counters per row

  /** Count-min sketch of the token-frequency stream, then probe the
    * top-5 exact tokens against it: (token, exact_cnt, cm_est), with
    * cm_est >= exact_cnt by construction (collisions only inflate).
    *
    * Scale shape: the sketch is CmDepth x CmWidth counters built by ONE
    * partial-aggregable groupBy over the exploded token stream (each
    * occurrence contributes CmDepth (row, col) increments map-side);
    * the probe is a broadcast join against the tiny counter table.
    * Merging two corpora's sketches = summing counters. */
  def countminProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.text.Vocab.docTokens(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .select("token")
    // (row i, col h_i(tok) % w) per occurrence, all CmDepth rows at once
    val cells = toks.select(posexplode(array((0 until CmDepth).map { i =>
      pmod(Sketches.hash60(concat(lit(i.toString), col("token"))),
        lit(CmWidth.toLong))
    }: _*)).as(Seq("i", "c")))
    val sketch = cells.groupBy("i", "c").agg(count(lit(1)).as("cnt"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc).limit(5)
    val probes = exact.select(col("token"), col("exact_cnt"),
      posexplode(array((0 until CmDepth).map { i =>
        pmod(Sketches.hash60(concat(lit(i.toString), col("token"))),
          lit(CmWidth.toLong))
      }: _*)).as(Seq("i", "c")))
    probes.join(broadcast(sketch), Seq("i", "c"))
      .groupBy("token", "exact_cnt")
      .agg(min(col("cnt")).as("cm_est"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
  }

  val countminSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |  FROM documents),
       |cells AS (
       |  SELECT i, ('0x' || substr(md5(CAST(i AS VARCHAR) || token), 1, 15))::BIGINT
       |           % $CmWidth AS c
       |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS i)),
       |sketch AS (SELECT i, c, count(*) AS cnt FROM cells GROUP BY i, c),
       |exact AS (
       |  SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token
       |  ORDER BY exact_cnt DESC, token ASC LIMIT 5),
       |probes AS (
       |  SELECT token, exact_cnt, i,
       |    ('0x' || substr(md5(CAST(i AS VARCHAR) || token), 1, 15))::BIGINT
       |      % $CmWidth AS c
       |  FROM exact CROSS JOIN (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS i))
       |SELECT p.token, p.exact_cnt, min(s.cnt) AS cm_est
       |FROM probes p JOIN sketch s ON p.i = s.i AND p.c = s.c
       |GROUP BY p.token, p.exact_cnt
       |ORDER BY p.exact_cnt DESC, p.token ASC""".stripMargin

  /** Hash-threshold sampled heavy hitters: restrict the token groupBy
    * to the deterministic 1/8 hash sample of token TYPES (hash60 <
    * 2^57), count those exactly, keep counts >= 20. At 100 TB this
    * shrinks the aggregation keyspace 8x while every sampled type's
    * count stays exact; the sample is the same on every engine and
    * every run. */
  def sampledHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.text.Vocab.docTokens(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .select("token")
      .where(Sketches.hash60(col("token")) < lit(1L << 57))
    toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 20)
      .orderBy(col("cnt").desc, col("token").asc)
  }

  val sampledSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |s AS (
      |  SELECT token, count(*) AS cnt FROM toks
      |  WHERE ('0x' || substr(md5(token), 1, 15))::BIGINT < 144115188075855872
      |  GROUP BY token)
      |SELECT token, cnt FROM s WHERE cnt >= 20
      |ORDER BY cnt DESC, token ASC""".stripMargin

  /** Quantiles over the deterministic 1/4 document hash-sample: the
    * exact interpolated `percentile` holds every group value in
    * memory — fine per-source at profile time, a state bomb on a
    * billion-row group. Hash-sampling rows FIRST (by id, so selection
    * is unbiased w.r.t. the measured value) bounds that state at p·n
    * while keeping the estimate engine-reproducible — unlike
    * percentile_approx, whose sketch internals no oracle can replay. */
  def sampledQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(Sketches.hash60(col("doc_id").cast("string")) < lit(1L << 58))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"))
      .orderBy("source")

  val sampledQuantilesSql: String =
    """SELECT source, count(*) AS n_sampled,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      < 288230376151711744
      |GROUP BY source ORDER BY source""".stripMargin

  /** HyperLogLog distinct parts in the lineitem stream — the real HLL
    * (not the KMV stand-in), made DuckDB-replayable by integer-only
    * rank extraction and an exact-integer harmonic denominator (see
    * [[graft.sketch.Hll]]). Output pairs the estimate with the exact
    * count so the gate also pins the accuracy contract (b=12 ⇒ σ ≈
    * 1.04/√4096 ≈ 1.6%). */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val est = graft.sketch.Hll.estimate(
      graft.sketch.Hll.registers(li, col("l_partkey").cast("string")))
    val exact = li.agg(countDistinct("l_partkey").as("n_exact"))
    est.crossJoin(broadcast(exact))
      .select(col("n_exact"),
        graft.functions.ScoreFns.scoreRound(col("n_estimate"), 4)
          .as("hll_estimate"),
        col("v_empty"),
        graft.functions.ScoreFns.scoreRound(
          lit(100.0) * (col("n_estimate") - col("n_exact"))
            / col("n_exact"), 4).as("err_pct"))
  }
  val hllSql: String = {
    val w = 281474976710656L // 2^48
    val s49 = 562949953421312L // 2^49
    s"""WITH h AS (
      |  SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
      |    ::BIGINT AS h
      |  FROM lineitem),
      |r AS (SELECT h // $w AS bucket, h % $w AS w FROM h),
      |rh AS (SELECT bucket, CASE WHEN w = 0 THEN 49
      |  ELSE 49 - length(bin(w)) END AS rho FROM r),
      |regs AS (SELECT bucket, max(rho) AS maxrho FROM rh GROUP BY 1),
      |a AS (SELECT count(*) AS mp,
      |  CAST(sum(1::BIGINT << (49 - maxrho)) AS BIGINT) AS sp FROM regs),
      |e AS (SELECT (4096 - mp) AS v,
      |  CAST(sp + (4096 - mp) * $s49 AS DOUBLE) AS s FROM a),
      |est AS (SELECT v,
      |  CASE WHEN ${graft.sketch.Hll.Alpha} * ${math.pow(2.0, 73)} / s
      |      <= ${2.5 * graft.sketch.Hll.M} AND v > 0
      |    THEN 4096.0 * ln(4096.0 / v)
      |    ELSE ${graft.sketch.Hll.Alpha} * ${math.pow(2.0, 73)} / s
      |    END AS n_estimate
      |  FROM e),
      |x AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
      |SELECT n_exact, round(n_estimate, 4) + 0.0 AS hll_estimate,
      |  v AS v_empty,
      |  round(100.0 * (n_estimate - n_exact) / n_exact, 4) + 0.0
      |    AS err_pct
      |FROM est CROSS JOIN x""".stripMargin
  }

  /** Grouped HLL + union-by-merge — the warehouse shape: per-source
    * distinct-document sketches from ONE keyed pass, and the global
    * estimate obtained by MERGING the per-source registers (max per
    * bucket), never re-scanning the corpus. The output pairs every
    * estimate with its exact count, and the '__all' row pins the
    * mergeability contract end-to-end (sketch of union = max of
    * sketches — the property that lets 1000 shards combine on one
    * reducer). */
  def hllGroups(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sketch.Hll
    val docs = Tables.documents(spark, sfDir)
    val regs = Hll.groupedRegisters(docs, col("source"), col("text"))
    val per = Hll.groupedEstimate(regs)
    val merged = Hll.estimate(
        regs.groupBy("bucket").agg(max("maxrho").as("maxrho")))
      .select(lit("__all").as("g"), col("n_estimate"), col("v_empty"))
    val exactPer = docs.groupBy(col("source").as("g"))
      .agg(countDistinct("text").as("n_exact"))
    val exactAll = docs.agg(countDistinct("text").as("n_exact"))
      .select(lit("__all").as("g"), col("n_exact"))
    per.unionByName(merged)
      .join(exactPer.unionByName(exactAll), "g")
      .select(col("g").as("source"), col("n_exact"),
        graft.functions.ScoreFns.scoreRound(col("n_estimate"), 4)
          .as("hll_estimate"),
        graft.functions.ScoreFns.scoreRound(
          lit(100.0) * (col("n_estimate") - col("n_exact"))
            / col("n_exact"), 4).as("err_pct"))
      .orderBy("source")
  }
  val hllGroupsSql: String = {
    val w = 281474976710656L
    val s49 = 562949953421312L
    val alpha = graft.sketch.Hll.Alpha
    val p73 = math.pow(2.0, 73)
    s"""WITH h AS (
      |  SELECT source AS g,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      |  FROM documents),
      |r AS (SELECT g, h // $w AS bucket, h % $w AS w FROM h),
      |rh AS (SELECT g, bucket, CASE WHEN w = 0 THEN 49
      |  ELSE 49 - length(bin(w)) END AS rho FROM r),
      |regs AS (SELECT g, bucket, max(rho) AS maxrho FROM rh
      |  GROUP BY 1, 2),
      |allregs AS (SELECT '__all' AS g, bucket, max(maxrho) AS maxrho
      |  FROM regs GROUP BY 2),
      |u AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs),
      |a AS (SELECT g, count(*) AS mp,
      |  CAST(sum(1::BIGINT << (49 - maxrho)) AS BIGINT) AS sp
      |  FROM u GROUP BY 1),
      |e AS (SELECT g, (4096 - mp) AS v,
      |  CAST(sp + (4096 - mp) * $s49 AS DOUBLE) AS s FROM a),
      |est AS (SELECT g,
      |  CASE WHEN $alpha * $p73 / s <= ${2.5 * graft.sketch.Hll.M}
      |      AND v > 0
      |    THEN 4096.0 * ln(4096.0 / v)
      |    ELSE $alpha * $p73 / s END AS n_estimate
      |  FROM e),
      |x AS (
      |  SELECT source AS g, count(DISTINCT text) AS n_exact
      |  FROM documents GROUP BY 1
      |  UNION ALL
      |  SELECT '__all', count(DISTINCT text) FROM documents)
      |SELECT est.g AS source, n_exact,
      |  round(n_estimate, 4) + 0.0 AS hll_estimate,
      |  round(100.0 * (n_estimate - n_exact) / n_exact, 4) + 0.0
      |    AS err_pct
      |FROM est JOIN x USING (g) ORDER BY source""".stripMargin
  }

  def gates: Seq[Gate] = Seq(
    Gate("sketch_hll_groups", hllGroups, hllGroupsSql),
    Gate("sketch_hll_distinct", hllDistinct, hllSql),
    Gate("sketch_kmv_distinct", kmvDistinct, kmvSql),
    Gate("sketch_corpus_overlap", corpusOverlap, corpusOverlapSql),
    Gate("sketch_countmin_probe", countminProbe, countminSql),
    Gate("sketch_sampled_hitters", sampledHitters, sampledSql),
    Gate("sketch_sampled_quantiles", sampledQuantiles, sampledQuantilesSql))
}
