package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.Tables
import graft.ml.Featurize
import graft.functions.ScoreFns.scoreRound

/** Feature-engineering gates ([[graft.ml.Featurize]]): the hashing
  * trick, leakage-safe out-of-fold target encoding, and phonetic
  * blocking for entity resolution. Each is one fact-sized keyed
  * aggregation plus bounded-table assembly — the StatsQueries scale
  * doctrine applied to featurization.
  */
object FeatQueries extends graft.QueryModule {

  private val Dim = 512

  /** FE1: hashing-trick featurization of the document corpus into a
    * fixed 512-bucket space, audited at the bucket level: documents
    * hit, total term frequency, and the L2 mass Σcnt² (which can only
    * be produced by the per-(doc, bucket) sparse matrix, so the oracle
    * validates the per-document vectors, not just corpus totals).
    * Explode + two keyed aggregations; output bounded at 512 rows
    * regardless of corpus size. */
  def featHashingTrick(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
    Featurize.hashingTrick(docs, "doc_id", col("toks"), Dim)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("cnt").as("tf"),
        sum(col("cnt") * col("cnt")).as("l2"))
      .orderBy("bucket")
  }

  val hashingTrickSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> '')) AS tok
       |  FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('ht:' || tok), 1, 15))::BIGINT % $Dim AS bucket,
       |    count(*) AS cnt
       |  FROM t GROUP BY 1, 2)
       |SELECT bucket, count(*) AS n_docs, CAST(sum(cnt) AS BIGINT) AS tf,
       |  CAST(sum(cnt * cnt) AS BIGINT) AS l2
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** FE2: out-of-fold smoothed target encoding of event_type against
    * the value target, folds assigned group-aware by user (all of a
    * user's rows share a fold, so no user leaks into its own
    * encoding). Emits the bounded (category × fold) encoding table a
    * trainer would broadcast-join onto the facts. */
  def featTargetEncode(spark: SparkSession, sfDir: String): DataFrame =
    Featurize.targetEncodeOof(
        Tables.events(spark, sfDir), "event_type", "value", "user_id",
        folds = 5, smoothing = 20.0)
      .select(col("cat"), col("fold"), col("n_rows"),
        scoreRound(col("encoding"), 6).as("encoding"))
      .orderBy("cat", "fold")

  val targetEncodeSql: String =
    """WITH f AS (
      |  SELECT event_type AS cat,
      |    ('0x' || substr(md5('fold:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 5 AS fold,
      |    value
      |  FROM events),
      |cf AS (
      |  SELECT cat, fold, CAST(count(*) AS DOUBLE) AS n_cf,
      |    sum(value) AS s_cf
      |  FROM f GROUP BY 1, 2),
      |c AS (SELECT cat, sum(n_cf) AS n_c, sum(s_cf) AS s_c FROM cf GROUP BY 1),
      |p AS (SELECT sum(s_cf) / sum(n_cf) AS prior FROM cf)
      |SELECT cf.cat, cf.fold, CAST(n_cf AS BIGINT) AS n_rows,
      |  round((s_c - s_cf + 20.0 * prior) / (n_c - n_cf + 20.0), 6) + 0.0
      |    AS encoding
      |FROM cf JOIN c USING (cat) CROSS JOIN p
      |ORDER BY 1, 2""".stripMargin

  /** FE3: phonetic blocking over the part-name vocabulary — ER-style
    * candidate generation. Keys are RE2-safe consonant skeletons
    * ([[Featurize.phoneticKey]]); the gate reports the 30 largest
    * blocks and their within-block candidate-pair counts, i.e. the
    * quadratic work the blocking AVOIDED doing globally. The key
    * dictionary is vocabulary-sized, never fact-sized. */
  def featPhoneticBlocking(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(explode(split(col("p_name"), " ")).as("w"))
      .where(col("w") =!= "")
      .distinct()
      .select(Featurize.phoneticKey(col("w")).as("key"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_words"))
      .select(col("key"), col("n_words"),
        expr("(n_words * (n_words - 1)) div 2").as("n_pairs"))
      .orderBy(desc("n_words"), col("key"))
      .limit(30)

  val phoneticBlockingSql: String =
    """WITH w AS (
      |  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part),
      |k AS (
      |  SELECT upper(substr(w, 1, 1))
      |      || regexp_replace(substr(w, 2), '[aeiou]', '', 'g') AS key
      |  FROM w WHERE w <> ''),
      |g AS (SELECT key, count(*) AS n_words FROM k GROUP BY 1)
      |SELECT key, n_words, (n_words * (n_words - 1)) // 2 AS n_pairs
      |FROM g ORDER BY n_words DESC, key LIMIT 30""".stripMargin

  /** FE4: weight-of-evidence encoding + information value — the
    * credit-scoring companion to [[featTargetEncode]]: for each
    * feature bin (order priority) against a binary target (order
    * status F = "bad"), WoE = ln(p(bin|good)/p(bin|bad)) with the
    * standard 0.5 Laplace correction, and the feature's predictive
    * power summarized as IV = Σ (p_g − p_b)·WoE. Unlike target
    * encoding (mean response), WoE is symmetric in the class odds and
    * is additive in naive-Bayes log-odds — the form scorecard models
    * consume. Shape: ONE keyed aggregation of the fact table to the
    * 5-row bin table; totals and IV assembled on that bounded table
    * via a broadcast cross join. ln through scoreRound. */
  def featWoe(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad"))
    val tot = bins.agg(sum("n_good").cast("double").as("tg"),
      sum("n_bad").cast("double").as("tb"))
    val woe = bins.crossJoin(broadcast(tot))
      .withColumn("p_good", (col("n_good") + 0.5) / col("tg"))
      .withColumn("p_bad", (col("n_bad") + 0.5) / col("tb"))
      .withColumn("woe", scoreRound(log(col("p_good") / col("p_bad")), 6))
      .withColumn("iv_term",
        scoreRound((col("p_good") - col("p_bad")) * col("woe"), 6))
    val iv = woe.agg(scoreRound(sum("iv_term"), 6).as("iv"))
    woe.crossJoin(broadcast(iv))
      .select(col("bin"), col("n"), col("n_bad"), col("n_good"),
        col("woe"), col("iv_term"), col("iv"))
      .orderBy("bin")
  }

  val woeSql: String =
    """WITH bins AS (
      |  SELECT o_orderpriority AS bin, count(*) AS n,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_bad
      |  FROM orders GROUP BY 1),
      |b2 AS (SELECT bin, n, n_bad, n - n_bad AS n_good FROM bins),
      |tot AS (
      |  SELECT CAST(sum(n_good) AS DOUBLE) AS tg,
      |    CAST(sum(n_bad) AS DOUBLE) AS tb
      |  FROM b2),
      |woe AS (
      |  SELECT bin, n, n_bad, n_good,
      |    round(ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)), 6) + 0.0
      |      AS woe,
      |    round(((n_good + 0.5) / tg - (n_bad + 0.5) / tb)
      |      * (round(ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)), 6)
      |         + 0.0), 6) + 0.0 AS iv_term
      |  FROM b2 CROSS JOIN tot),
      |iv AS (SELECT round(sum(iv_term), 6) + 0.0 AS iv FROM woe)
      |SELECT bin, n, n_bad, n_good, woe, iv_term, iv
      |FROM woe CROSS JOIN iv ORDER BY bin""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("feat_woe", featWoe, woeSql),
    Gate("feat_hashing_trick", featHashingTrick, hashingTrickSql),
    Gate("feat_target_encode", featTargetEncode, targetEncodeSql),
    Gate("feat_phonetic_blocking", featPhoneticBlocking, phoneticBlockingSql))
}
