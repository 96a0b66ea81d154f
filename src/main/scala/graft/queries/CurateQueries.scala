package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables
import graft.curate.{Decontam, Packing, Sampling}

/** Training-data curation family: deterministic splits, per-source
  * quotas, benchmark decontamination, sequence packing. */
object CurateQueries extends graft.QueryModule {

  /** Stable md5-bucket train/val/test assignment per document. */
  def curateSplit(spark: SparkSession, sfDir: String): DataFrame =
    Sampling.hashSplit(
      Tables.documents(spark, sfDir).select("doc_id"), "doc_id")
      .orderBy("doc_id")
  val splitSql: String =
    """SELECT doc_id,
      |  CASE WHEN b < 13 THEN 'train' WHEN b = 13 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        strpos('0123456789abcdef',
      |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** At most 25 docs per source, chosen by deterministic md5 order. */
  def curateQuota(spark: SparkSession, sfDir: String): DataFrame =
    Sampling.perGroupQuota(
      Tables.documents(spark, sfDir).select("source", "doc_id"),
      "source", "doc_id", quota = 25)
      .orderBy("source", "doc_id")
  val quotaSql: String =
    """SELECT source, doc_id FROM (
      |  SELECT source, doc_id, row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 25 ORDER BY source, doc_id""".stripMargin

  /** Corpus docs sharing a 3-gram with the pseudo-benchmark set
    * (doc_id % 97 = 0), with distinct-shared-gram counts. */
  def curateDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    Decontam.contaminated(
      corpus = docs.where(col("doc_id") % 97 =!= 0),
      bench = docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }
  val decontamSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM d WHERE len(t) >= 3),
      |bench AS (
      |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
      |corpus AS (
      |  SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 97 <> 0)
      |SELECT doc_id, count(*) AS hits
      |FROM corpus JOIN bench USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Next-fit packing into 2048-token bins. The GATE runs the packer on
    * one doc_id-sorted partition so the sequential next-fit walk is
    * exactly replayable by the oracle's recursive CTE (Spark's hash
    * partition assignment isn't reproducible in SQL); multi-partition
    * layout + bin-id uniqueness are pinned in PackingSpec, and the
    * operator itself stays partition-local/zero-shuffle at scale. */
  def curatePack(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(graft.dedup.Shingles.tokens(col("text"))).as("n_toks"))
      .repartition(1)
      .sortWithinPartitions("doc_id")
    Packing.nextFitPack(docs, "doc_id", "n_toks", budget = 2048)
      .select(col("bin"), col("n_docs"), col("total_tokens"))
      .orderBy("bin")
  }
  /** Sequential next-fit replay: one recursion step per doc in doc_id
    * order, opening a new bin when the running total would exceed the
    * budget (an oversized first doc still enters — same semantics as
    * Packing.nextFitPack). */
  val packSql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
      |    len(string_split_regex(trim(text), '\s+')) AS toks
      |  FROM documents),
      |walk AS (
      |  SELECT rn, CAST(0 AS BIGINT) AS bin, toks AS acc
      |  FROM docs WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn,
      |    CASE WHEN w.acc + d.toks <= 2048 THEN w.bin ELSE w.bin + 1 END,
      |    CASE WHEN w.acc + d.toks <= 2048 THEN w.acc + d.toks ELSE d.toks END
      |  FROM walk w JOIN docs d ON d.rn = w.rn + 1)
      |SELECT bin, count(*) AS n_docs, CAST(max(acc) AS BIGINT) AS total_tokens
      |FROM walk GROUP BY bin ORDER BY bin""".stripMargin

  /** Chained curation capstone: drop contaminated docs → stable split
    * → per-source quota (50) → per-(split, source) summary. The whole
    * chain is one Catalyst plan: broadcast anti-join, narrow split
    * map, one window exchange, one final aggregation. */
  def curatePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val contaminated = Decontam.contaminated(
      corpus = docs.where(col("doc_id") % 97 =!= 0),
      bench = docs.where(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3).select("doc_id")
    val clean = docs.where(col("doc_id") % 97 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val curated = Sampling.perGroupQuota(
      Sampling.hashSplit(clean, "doc_id"), "source", "doc_id", quota = 50)
    curated.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("split", "source")
  }
  val pipelineSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM d WHERE len(t) >= 3),
      |bench AS (
      |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 97 <> 0)
      |  JOIN bench USING (g)),
      |clean AS (
      |  SELECT * FROM documents
      |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)),
      |split_assigned AS (
      |  SELECT *, CASE WHEN b < 13 THEN 'train' WHEN b = 13 THEN 'val'
      |                 ELSE 'test' END AS split
      |  FROM (SELECT *,
      |          strpos('0123456789abcdef',
      |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
      |        FROM clean)),
      |curated AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |    FROM split_assigned)
      |  WHERE rn <= 50)
      |SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM curated GROUP BY split, source ORDER BY split, source""".stripMargin

  /** Temperature mixing at alpha=0.5 (sqrt), 300-row target:
    * per-source sampled memberships. */
  def curateMix(spark: SparkSession, sfDir: String): DataFrame =
    Sampling.temperatureMix(
      Tables.documents(spark, sfDir).select("source", "doc_id"),
      "source", "doc_id", alpha = 0.5, totalTarget = 300)
      .orderBy("source", "doc_id")
  val mixSql: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, n, round(sqrt(CAST(n AS DOUBLE)), 6) AS w FROM c),
      |z AS (SELECT round(sum(w), 6) AS z FROM w),
      |q AS (SELECT source,
      |        least(CAST(round(w / z * 300) AS BIGINT), n) AS quota
      |      FROM w CROSS JOIN z),
      |r AS (SELECT d.source, d.doc_id, q.quota,
      |        row_number() OVER (PARTITION BY d.source
      |          ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      |      FROM documents d JOIN q USING (source))
      |SELECT source, doc_id FROM r WHERE rn <= quota
      |ORDER BY source, doc_id""".stripMargin

  /** Leakage-safe split: split key = near-dup cluster representative
    * (minhash pairs → connected components), so paraphrased copies of
    * a val/test doc can never land in train. Oracle: recursive-CTE
    * reachability over the exact Jaccard pair set + the same md5
    * bucket arithmetic as curate_split. */
  def curateClusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val pairs = graft.dedup.MinHashLSH.nearDuplicatePairs(
      docs, "doc_id", "text", shingleSize = 3, numPerms = 64, bands = 16,
      threshold = 0.5)
    val clusters = graft.dedup.Clusters.connectedComponents(
      pairs.select("a", "b"))
    Sampling.clusterSafeSplit(docs.select("doc_id"), "doc_id", clusters)
      .orderBy("doc_id")
  }
  val clusterSplitSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM d WHERE len(t) >= 3),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5),
      |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      |clu AS (
      |  SELECT src AS id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src)
      |SELECT doc_id,
      |  CASE WHEN b < 13 THEN 'train' WHEN b = 13 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        strpos('0123456789abcdef',
      |          substr(md5(CAST(coalesce(c.cluster, doc_id) AS VARCHAR)), 1, 1)) - 1 AS b
      |      FROM documents LEFT JOIN clu c ON documents.doc_id = c.id)
      |ORDER BY doc_id""".stripMargin

  /** Embedding-space decontamination: the pseudo-benchmark is every
    * 25th corpus vector, mildly perturbed per-coordinate (×0.99/1.00/
    * 1.01 cycling) so it is a PARAPHRASE stand-in — near its corpus
    * original in cosine (~0.9999) but not byte-equal, exactly the
    * leakage the n-gram check (`curate_decontam`) cannot see. τ=0.95
    * flags the originals (and any natural neighbor that close); the
    * oracle replays the same broadcast-probe semantics in SQL. */
  def curateDecontamEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val bench = base.where(col("vec_id") % 25 === 0)
      .select(transform(col("embedding"), (x, i) =>
        x * (lit(1.0) + lit(0.01) * (i % 3 - lit(1)))).as("embedding"))
    Decontam.embeddingContaminated(base, bench, "vec_id", "embedding", tau = 0.95)
      .orderBy("vec_id")
  }
  val decontamEmbeddingSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |b AS (
      |  SELECT list_transform(generate_series(1, len(v)),
      |    j -> v[j] * (1.0 + 0.01 * ((j - 1) % 3 - 1))) AS bv
      |  FROM e WHERE vec_id % 25 = 0),
      |p AS (
      |  SELECT e.vec_id,
      |    round(list_sum(list_transform(generate_series(1, len(e.v)),
      |        i -> e.v[i] * b.bv[i]))
      |      / (sqrt(list_sum(list_transform(e.v, y -> y * y)))
      |         * sqrt(list_sum(list_transform(b.bv, y -> y * y)))), 4) AS c
      |  FROM e CROSS JOIN b)
      |SELECT vec_id, count(*) AS hits, max(c) AS max_cos
      |FROM p WHERE c >= 0.95 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Curriculum schedule: rank the corpus easy->hard by quality score
    * and cut into 10 contiguous rank bins (Sampling.curriculumBins —
    * distributed sort + zipWithIndex, no global window); output
    * per-bin volume and score envelope. Oracle replays the identical
    * bin arithmetic with row_number. */
  def curateCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("q"))
    Sampling.curriculumBins(scored, "q", "doc_id", nBins = 10)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("q").as("min_q"), max("q").as("max_q"),
        round(sum("q"), 4).as("sum_q"))
      .orderBy("bin")
  }
  val curriculumSql: String =
    """WITH scored AS (
      |  SELECT doc_id, round(
      |    0.3 * least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0)
      |    + 0.4 * (CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |        / (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) + 1.0))
      |    + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |        / (CAST(length(text) AS DOUBLE) + 1.0))), 6) AS q
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, q,
      |    row_number() OVER (ORDER BY q, doc_id) - 1 AS rank,
      |    count(*) OVER () AS n
      |  FROM scored)
      |SELECT CAST((rank * 10) // n AS INT) AS bin, count(*) AS n,
      |  min(q) AS min_q, max(q) AS max_q, round(sum(q), 4) AS sum_q
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** Token-budget selection (Sampling.tokenBudget): the best-quality
    * documents until 15k cumulative tokens. The oracle replays the
    * NAIVE semantics (global running sum over quality DESC); the
    * engine path is the histogram-pruned implementation that never
    * sorts the corpus — the gate passing proves the scale path equals
    * the naive spec row-for-row. */
  def curateTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
    Sampling.tokenBudget(scored, "doc_id", "quality", "n_tokens", 15000L)
      .orderBy("doc_id")
  }
  val tokenBudgetSql: String =
    """WITH scored AS (
      |  SELECT doc_id, round(
      |    0.3 * least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0)
      |    + 0.4 * (CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |        / (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) + 1.0))
      |    + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |        / (CAST(length(text) AS DOUBLE) + 1.0))), 6) AS quality,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, quality, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) - n_tokens
      |      AS before
      |  FROM scored)
      |SELECT doc_id, quality, n_tokens FROM r
      |WHERE before < 15000 ORDER BY doc_id""".stripMargin

  /** DSIR-lite importance selection (curate.Dsir): English documents
    * are the stand-in target domain; every document scores by the
    * add-one-smoothed hashed-bigram log-ratio and the top 50 are
    * kept. The oracle replays the full pipeline — identical md5
    * buckets, identical smoothing — leaving ln() as the only
    * engine-defined step (rounded at 4). */
  def curateDsir(spark: SparkSession, sfDir: String): DataFrame =
    graft.curate.Dsir.select(
      Tables.documents(spark, sfDir), "doc_id", "text",
      isTarget = col("lang") === "en", k = 50)
  val dsirSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM toks WHERE len(t) >= 2),
      |bkt AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(bg), 1, 15))::BIGINT % 1024 AS INT) AS b
      |  FROM big),
      |raw AS (SELECT b, count(*) AS c FROM bkt GROUP BY b),
      |tgt AS (SELECT b, count(*) AS c FROM bkt WHERE lang = 'en' GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM bkt) AS nraw,
      |               (SELECT count(*) FROM bkt WHERE lang = 'en') AS ntgt),
      |ratio AS (
      |  SELECT r.b,
      |    ln((coalesce(t.c, 0) + 1.0) / (ntgt + 1024.0))
      |      - ln((r.c + 1.0) / (nraw + 1024.0)) AS lr
      |  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, round(sum(lr), 4) + 0.0 AS score
      |  FROM bkt JOIN ratio USING (b) GROUP BY doc_id)
      |SELECT doc_id, score FROM scored
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** DSIR Gumbel-top-k resampling (curate.Dsir.resample): selection
    * ∝ exp(score/T) via deterministic per-id Gumbel noise — the
    * paper's resampling rule, reproducible across engines because the
    * noise is md5-derived. Oracle replays score + noise end-to-end. */
  def curateDsirResample(spark: SparkSession, sfDir: String): DataFrame =
    graft.curate.Dsir.resample(
      Tables.documents(spark, sfDir), "doc_id", "text",
      isTarget = col("lang") === "en", k = 50, temperature = 1.0)
  val dsirResampleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM toks WHERE len(t) >= 2),
      |bkt AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(bg), 1, 15))::BIGINT % 1024 AS INT) AS b
      |  FROM big),
      |raw AS (SELECT b, count(*) AS c FROM bkt GROUP BY b),
      |tgt AS (SELECT b, count(*) AS c FROM bkt WHERE lang = 'en' GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM bkt) AS nraw,
      |               (SELECT count(*) FROM bkt WHERE lang = 'en') AS ntgt),
      |ratio AS (
      |  SELECT r.b,
      |    ln((coalesce(t.c, 0) + 1.0) / (ntgt + 1024.0))
      |      - ln((r.c + 1.0) / (nraw + 1024.0)) AS lr
      |  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, round(sum(lr), 4) + 0.0 AS score
      |  FROM bkt JOIN ratio USING (b) GROUP BY doc_id),
      |noised AS (
      |  SELECT doc_id, score,
      |    round(score + (-ln(-ln(
      |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |        AS DOUBLE) + 0.5) / 1152921504606846976.0))), 4) + 0.0 AS noisy
      |  FROM scored)
      |SELECT doc_id, score, noisy FROM noised
      |ORDER BY noisy DESC, doc_id LIMIT 50""".stripMargin

  /** Sharded JSONL export round trip: the corpus lands in 8 shards by
    * replayable md5 bucket, is READ BACK through Spark's JSON reader,
    * and summarized per shard — count, codepoint length sum, id
    * checksum. A lossy escape, a dropped row, or a partitioner-
    * dependent shard assignment all break the compare, because the
    * oracle computes the same summary from the ORIGINAL parquet with
    * pure md5 arithmetic. */
  def exportJsonlShards(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.core.GraftSession.scratch("jsonl-export")
    graft.sources.Sinks.writeJsonlShards(
      Tables.documents(spark, sfDir).select("doc_id", "lang", "text"),
      "doc_id", nShards = 8, path)
    spark.read.json(path)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("shard")
  }
  val exportJsonlSql: String =
    """SELECT (strpos('0123456789abcdef',
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS chars,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Split-leakage audit — the measurable WHY of cluster-safe
    * splitting: 50 planted duplicate pairs are split naively (per-id
    * hash → some pairs straddle train/val/test, leaking eval content
    * into training) and cluster-safely (both members keyed by the
    * cluster representative → provably zero straddle). The gate
    * reports both leak counts; the oracle recomputes the naive count
    * from the md5 split arithmetic and derives the safe count (0)
    * from the shared-key construction. */
  def curateSplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val pairs = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("a"), (col("doc_id") + 100000).as("b"))
    val corpus = d.select("doc_id").unionByName(
      pairs.select(col("b").as("doc_id")))
    def leaked(split: DataFrame): Long = pairs
      .join(split.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(split.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .where(col("sa") =!= col("sb")).count()
    val naive = leaked(Sampling.hashSplit(corpus, "doc_id"))
    val clusters = pairs.select(col("b").as("id"), col("a").as("cluster"))
      .unionByName(pairs.select(col("a").as("id"), col("a").as("cluster")))
    val safe = leaked(Sampling.clusterSafeSplit(corpus, "doc_id", clusters))
    pairs.agg(count(lit(1)).as("n_pairs"))
      .select(col("n_pairs"), lit(naive).as("naive_leaked"),
        lit(safe).as("safe_leaked"))
  }
  val splitLeakageSql: String =
    """WITH p AS (
      |  SELECT doc_id AS a, doc_id + 100000 AS b
      |  FROM documents WHERE doc_id < 50),
      |s AS (
      |  SELECT a, b,
      |    strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR)), 1, 1)) - 1 AS ba,
      |    strpos('0123456789abcdef', substr(md5(CAST(b AS VARCHAR)), 1, 1)) - 1 AS bb
      |  FROM p),
      |cls AS (
      |  SELECT CASE WHEN ba < 13 THEN 'train' WHEN ba = 13 THEN 'val'
      |              ELSE 'test' END AS sa,
      |         CASE WHEN bb < 13 THEN 'train' WHEN bb = 13 THEN 'val'
      |              ELSE 'test' END AS sb
      |  FROM s)
      |SELECT count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS naive_leaked,
      |  CAST(0 AS BIGINT) AS safe_leaked
      |FROM cls""".stripMargin

  /** Winsorized length statistics per language: doc lengths clipped
    * to their per-lang exact [P5, P95] (linear-interpolation
    * percentiles — the same quantile_cont definition DuckDB uses, so
    * the replay is exact), then the robust mean and the clip count.
    * The bounds join back as a broadcast; the corpus never
    * reshuffles. */
  def curateWinsorize(spark: SparkSession, sfDir: String): DataFrame =
    graft.curate.Outliers.winsorize(
        Tables.documents(spark, sfDir).select("lang", "n_chars"),
        "lang", "n_chars", 0.05, 0.95)
      .groupBy("lang")
      .agg(round(avg("clipped"), 4).as("wmean"),
        sum(col("was_clipped").cast("long")).as("n_clipped"),
        count(lit(1)).as("n"))
      .orderBy("lang")
  val winsorizeSql: String =
    """WITH q AS (
      |  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
      |    quantile_cont(n_chars, 0.95) AS hi
      |  FROM documents GROUP BY 1)
      |SELECT d.lang,
      |  round(avg(CASE WHEN n_chars < lo THEN lo
      |    WHEN n_chars > hi THEN hi
      |    ELSE CAST(n_chars AS DOUBLE) END), 4) AS wmean,
      |  CAST(sum(CASE WHEN n_chars < lo OR n_chars > hi THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_clipped,
      |  count(*) AS n
      |FROM documents d JOIN q USING (lang)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Temperature-scaled mix PLAN (T = 2): the weights-and-epochs
    * report a pipeline reads before materializing a mix — per source,
    * natural share p = chars_s / Σchars (token-proxy weighting, not
    * curate_mix's doc counts), sampling weight q ∝ p^(1/T), and
    * oversampling factor epochs = q / p (passes a small source gets
    * at temperature T). Complements `curate_mix`, which SAMPLES
    * memberships; this is the planning table (what would each source
    * weigh, how many epochs) that decides T before any sampling.
    * T = 2 makes the exponent a SQRT — bit-exact IEEE in both
    * engines, so the only cross-engine freedom is the Σ√p
    * accumulation order (scoreRound-ed). Shape: one keyed aggregation
    * + two broadcast 1-row totals folded into the plan (the
    * Collocations idiom) — one job, no driver math. */
  def curateTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val bySrc = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    val tot = bySrc.agg(sum("chars").as("tot"))
    val withP = bySrc.crossJoin(broadcast(tot))
      .withColumn("p", col("chars") / col("tot"))
    val z = withP.agg(sum(sqrt(col("p"))).as("z"))
    withP.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        graft.functions.ScoreFns.scoreRound(col("p"), 6).as("p"),
        graft.functions.ScoreFns.scoreRound(sqrt(col("p")) / col("z"), 6)
          .as("q"),
        graft.functions.ScoreFns.scoreRound(
          sqrt(col("p")) / col("z") / col("p"), 4).as("epochs"))
      .orderBy("source")
  }
  val temperatureMixSql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS DOUBLE) AS chars
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(chars) AS tot FROM s),
      |p AS (SELECT source, n_docs, chars / t.tot AS p FROM s, t),
      |z AS (SELECT sum(sqrt(p)) AS z FROM p)
      |SELECT source, n_docs, round(p, 6) + 0.0 AS p,
      |  round(sqrt(p) / z.z, 6) + 0.0 AS q,
      |  round(sqrt(p) / z.z / p, 4) + 0.0 AS epochs
      |FROM p, z ORDER BY source""".stripMargin

  /** Class-balanced downsampling: per-language keep rates sized so
    * every class lands (in expectation) at the SMALLEST class's count,
    * selected by the portable 60-bit md5 hash of the doc id against a
    * per-class integer threshold — the deterministic, engine-
    * reproducible form of stratified rebalancing (a random sample
    * could never be oracle-checked; a hash sample is a pure predicate,
    * fully parallel, no shuffle beyond the count aggregates). The
    * per-class thresholds derive from one tiny counts aggregate
    * broadcast back onto the scan. */
  def curateClassBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val minc = counts.agg(min("n_total").as("minc"))
    val thresholds = counts.crossJoin(broadcast(minc))
      .withColumn("thresh",
        floor((col("minc").cast("double") / col("n_total")) *
          lit(1152921504606846976.0)).cast("long"))
    docs.join(broadcast(thresholds), "lang")
      .withColumn("kept",
        (graft.sketch.Sketches.hash60(col("doc_id").cast("string")) <
          col("thresh")).cast("long"))
      .groupBy("lang")
      .agg(max("n_total").as("n_total"), sum("kept").as("n_kept"),
        round(sum("kept") / max("n_total").cast("double"), 6)
          .as("kept_ratio"))
      .orderBy("lang")
  }
  /** Deterministic minority-class OVERSAMPLING — the upsampling
    * complement of curate_class_balance (which downsamples the
    * majority): every class is repeated up to the LARGEST class's
    * count. Each doc gets `maxc div n` copies, and the remainder
    * `maxc mod n` extra copies land on a deterministic md5-hash
    * subset (no window, no rank — the same cross-engine hash-
    * threshold idiom as class_balance, so the choice of which docs
    * carry the extra epoch is stable under any layout). The explode
    * is map-side; nothing shuffles except the class-count aggregate
    * and the final per-class stats. Exactness contract: n_after is
    * exact per doc-multiplicity arithmetic, near (not exactly) maxc
    * because the hash subset is a threshold draw, not a top-k — the
    * price of avoiding a global rank at corpus scale. */
  def curateOversample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val maxc = counts.agg(max("n").as("maxc"))
    docs.join(broadcast(counts.crossJoin(maxc)), "lang")
      .withColumn("reps",
        expr("maxc div n") +
          when(graft.sketch.Sketches.hash60(col("doc_id").cast("string"))
            % col("n") < col("maxc") % col("n"), 1L).otherwise(0L))
      .select(col("lang"), col("n"),
        explode(sequence(lit(1L), col("reps"))).as("copy"))
      .groupBy("lang")
      .agg(max("n").as("n_orig"), count(lit(1)).as("n_after"),
        round(count(lit(1)) / max("n").cast("double"), 4).as("ratio"))
      .orderBy("lang")
  }
  val oversampleSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |m AS (SELECT max(n) AS maxc FROM c),
      |r AS (
      |  SELECT d.lang, c.n,
      |    m.maxc // c.n + CASE
      |      WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
      |        ::BIGINT % c.n < m.maxc % c.n THEN 1 ELSE 0 END AS reps
      |  FROM documents d JOIN c USING (lang) CROSS JOIN m)
      |SELECT lang, max(n) AS n_orig,
      |  CAST(sum(reps) AS BIGINT) AS n_after,
      |  round(CAST(sum(reps) AS DOUBLE) / max(n), 4) AS ratio
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  val classBalanceSql: String =
    """WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
      |m AS (SELECT min(n_total) AS minc FROM c),
      |t AS (
      |  SELECT lang, n_total,
      |    CAST(floor((CAST(minc AS DOUBLE) / n_total)
      |      * 1152921504606846976.0) AS BIGINT) AS thresh
      |  FROM c CROSS JOIN m),
      |k AS (
      |  SELECT d.lang, t.n_total,
      |    CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT < t.thresh THEN 1 ELSE 0 END AS kept
      |  FROM documents d JOIN t ON d.lang = t.lang)
      |SELECT lang, max(n_total) AS n_total,
      |  CAST(sum(kept) AS BIGINT) AS n_kept,
      |  round(sum(kept) / CAST(max(n_total) AS DOUBLE), 6) AS kept_ratio
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Filter-funnel report: the per-rule attrition table every curation
    * pipeline publishes — for each quality rule, how many documents
    * fail it INDEPENDENTLY and how many survive the CUMULATIVE
    * conjunction up to that stage (rule order matters for the second
    * number; both are one conditional-sum aggregation over a single
    * scan, fanned out to report rows by a 4-element explode of the
    * 1-row aggregate). Rules are the cheap deterministic skeleton of
    * a Gopher-style filter chain. */
  def curateFilterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("w"),
        length(col("text")).cast("long").as("len"))
      .select(
        (col("w") >= 10).as("r1"), (col("w") <= 2000).as("r2"),
        (col("len") >= 100).as("r3"),
        (col("len") <= col("w") * 15).as("r4"))
    val agg = d.agg(
      count(lit(1)).as("n_input"),
      sum(when(!col("r1"), 1L).otherwise(0L)).as("f1"),
      sum(when(!col("r2"), 1L).otherwise(0L)).as("f2"),
      sum(when(!col("r3"), 1L).otherwise(0L)).as("f3"),
      sum(when(!col("r4"), 1L).otherwise(0L)).as("f4"),
      sum(when(col("r1"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("r1") && col("r2"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("r1") && col("r2") && col("r3"), 1L).otherwise(0L))
        .as("s3"),
      sum(when(col("r1") && col("r2") && col("r3") && col("r4"), 1L)
        .otherwise(0L)).as("s4"))
    agg.select(col("n_input"), explode(array(
        struct(lit("min_words").as("rule"), col("f1").as("n_fail"),
          col("s1").as("n_survive")),
        struct(lit("max_words").as("rule"), col("f2").as("n_fail"),
          col("s2").as("n_survive")),
        struct(lit("min_chars").as("rule"), col("f3").as("n_fail"),
          col("s3").as("n_survive")),
        struct(lit("mean_word_len").as("rule"), col("f4").as("n_fail"),
          col("s4").as("n_survive")))).as("e"))
      .select(col("e.rule").as("rule"), col("n_input"),
        col("e.n_fail").as("n_fail_independent"),
        col("e.n_survive").as("n_survive_cumulative"))
      .orderBy("rule")
  }
  val filterFunnelSql: String =
    """WITH d AS (
      |  SELECT len(string_split_regex(trim(text), '\s+')) AS w,
      |    length(text) AS len
      |  FROM documents),
      |r AS (
      |  SELECT w >= 10 AS r1, w <= 2000 AS r2, len >= 100 AS r3,
      |    len <= w * 15 AS r4
      |  FROM d),
      |a AS (
      |  SELECT count(*) AS n_input,
      |    CAST(sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(sum(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |    CAST(sum(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
      |    CAST(sum(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
      |    CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s3,
      |    CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s4
      |  FROM r)
      |SELECT rule, n_input, n_fail_independent, n_survive_cumulative
      |FROM (
      |  SELECT 'min_words' AS rule, n_input, f1 AS n_fail_independent,
      |    s1 AS n_survive_cumulative FROM a
      |  UNION ALL SELECT 'max_words', n_input, f2, s2 FROM a
      |  UNION ALL SELECT 'min_chars', n_input, f3, s3 FROM a
      |  UNION ALL SELECT 'mean_word_len', n_input, f4, s4 FROM a)
      |ORDER BY rule""".stripMargin

  /** Deterministic global training-order shuffle: every document gets
    * a reproducible pseudo-random position (60-bit md5 hash of a
    * salted id) and a shard = hash mod S — the "shuffle once, read
    * sequentially" layout every epoch-ordered training pipeline needs
    * (a cluster-side ORDER BY rand() is neither reproducible nor
    * resumable; the hash IS the permutation, so any worker can
    * recompute any shard's order independently). Zero-shuffle
    * assignment (a map-side hash), one keyed aggregation for the
    * audit: per-shard counts, char mass, hash range, and a mod-prime
    * checksum that pins membership, not just cardinality. */
  def curateShuffleShards(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        graft.sketch.Sketches.hash60(
          concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard", pmod(col("h"), lit(8L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("h").as("min_h"), max("h").as("max_h"),
        sum(col("h") % 1000003L).as("h_checksum"))
      .orderBy("shard")
  val shuffleShardsSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS h
      |  FROM documents)
      |SELECT h % 8 AS shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(h) AS min_h, max(h) AS max_h,
      |  CAST(sum(h % 1000003) AS BIGINT) AS h_checksum
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weighted k-sampling without replacement (Efraimidis–Spirakis
    * A-ES exponential keys — see [[graft.curate.Sampling.weightedSample]]
    * for the distribution argument): 100 documents sampled with
    * inclusion biased by n_chars, reproducible as a pure function of
    * (doc_id, salt). No global sort anywhere: key assignment is a
    * narrow map and selection is the O(k)-heap BoundedTopK aggregate
    * (pinned in PlanShapeSpec); the oracle replays the identical
    * hash → uniform → −ln(u)/w arithmetic and takes the same 100
    * smallest keys with the engine-cheap ORDER BY … LIMIT spelling —
    * affordable at oracle scale, the exact spelling the operator
    * avoids at corpus scale. Keys rounded to 10 decimals on BOTH
    * engines before ranking so a 1-ulp ln() divergence can't flip the
    * selection boundary. */
  def curateWeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.curate.Sampling.weightedSample(
        Tables.documents(spark, sfDir), "doc_id", "n_chars", k = 100)
      .withColumnRenamed("n_chars", "weight")
      .orderBy("rank")
  val weightedSampleSql: String =
    """WITH k AS (
      |  SELECT doc_id, n_chars AS weight,
      |    round(-ln((CAST(('0x' || substr(md5('aes:'
      |          || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      |          + 1.0) / 1152921504606846976.0)
      |      / CAST(n_chars AS DOUBLE), 10) + 0.0 AS key
      |  FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT)
      |    AS rank,
      |  doc_id, weight, key
      |FROM k ORDER BY key, doc_id LIMIT 100""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("curate_weighted_sample", curateWeightedSample, weightedSampleSql),
    Gate("curate_shuffle_shards", curateShuffleShards, shuffleShardsSql),
    Gate("curate_temperature_mix", curateTemperatureMix, temperatureMixSql),
    Gate("curate_winsorize", curateWinsorize, winsorizeSql),
    Gate("curate_split_leakage", curateSplitLeakage, splitLeakageSql),
    Gate("export_jsonl_shards", exportJsonlShards, exportJsonlSql),
    Gate("curate_decontam_embedding", curateDecontamEmbedding,
      decontamEmbeddingSql),
    Gate("curate_cluster_split", curateClusterSplit,
      materialized(clusterSplitSql)),
    Gate("curate_mix", curateMix, mixSql),
    Gate("curate_pipeline", curatePipeline, pipelineSql),
    Gate("curate_split", curateSplit, splitSql),
    Gate("curate_curriculum", curateCurriculum, curriculumSql),
    Gate("curate_dsir", curateDsir, dsirSql),
    Gate("curate_dsir_resample", curateDsirResample, dsirResampleSql),
    Gate("curate_quota", curateQuota, quotaSql),
    Gate("curate_class_balance", curateClassBalance, classBalanceSql),
    Gate("curate_oversample", curateOversample, oversampleSql),
    Gate("curate_filter_funnel", curateFilterFunnel, filterFunnelSql),
    Gate("curate_token_budget", curateTokenBudget, tokenBudgetSql),
    Gate("curate_decontam", curateDecontam, decontamSql),
    Gate("curate_pack", curatePack, materialized(packSql)))
}
