package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.dedup._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different text about spark engines and catalyst optimizers here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 1
    (5L, "short doc"),
    (6L, "another unrelated document mentioning parquet files and shuffle exchanges")
  ).toDF("doc_id", "text")

  test("minhash LSH finds planted near-dup and exact-dup pairs, nothing else") {
    val pairs = MinHashLSH.nearDuplicatePairs(corpus, "doc_id", "text",
        shingleSize = 3, numPerms = 64, bands = 16, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhash signature of identical texts is identical") {
    val ds = Shingles.docShingles(corpus, "doc_id", "text", 3)
    val sigs = MinHashLSH.signatures(ds, "doc_id", 64)
      .select($"doc_id", $"sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash: identical texts -> distance 0; near-dups close; unrelated far") {
    val ds = Shingles.docShingles(corpus, "doc_id", "text", 3)
    val sigs = SimHash.signatures(ds, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs(1L), sigs(2L)) <= 12)
    assert(ham(sigs(1L), sigs(3L)) > 12)
  }

  test("simhash nearPairs on testdata finds all 25 planted near-dups") {
    val docs = graft.core.Tables.documents(spark, sfDir).select("doc_id", "text")
    val ds = Shingles.docShingles(docs, "doc_id", "text", 3)
    val near = SimHash.nearPairs(ds, "doc_id", maxHamming = 8)
    // sf0.001 has its own planted set; just assert symmetry-free output
    val rows = near.select("a", "b").as[(Long, Long)].collect()
    assert(rows.forall { case (a, b) => a < b })
    assert(rows.distinct.length == rows.length)
  }

  test("prefix filtering (both orders) is lossless vs brute-force jaccard") {
    // seeded random corpus: 40 docs over a 12-word vocabulary so real
    // mid-range jaccard pairs exist, plus exact/near dups
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = ((0 until 40).map { i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (100L, "alpha beta gamma delta eps zeta eta theta")
      :+ (101L, "alpha beta gamma delta eps zeta eta iota")).toDF("doc_id", "text")
    val ds = Shingles.docShingles(docs, "doc_id", "text", 3)
    // brute force: all pairs, exact jaccard
    val l = ds.select(col("doc_id").as("a"), col("shingles").as("sa"))
    val r = ds.select(col("doc_id").as("b"), col("shingles").as("sb"))
    val brute = l.crossJoin(r).where(col("a") < col("b"))
      .where(Shingles.jaccard(col("sa"), col("sb")) >= 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    Seq(
      Shingles.prefixFilterCandidates(ds, "doc_id", 0.5),
      Shingles.prefixFilterCandidatesByDf(ds, "doc_id", 0.5)
    ).foreach { cands =>
      val got = Shingles.verifyPairs(cands, ds, "doc_id", 0.5)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"prefix filter lost pairs: ${brute -- got}")
    }
  }

  test("prefixFilterCandidatesAdaptive picks order by corpus size") {
    val docs = Seq((1L, "alpha beta gamma delta eps"),
      (2L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val ds = Shingles.docShingles(docs, "doc_id", "text", 3)
    // the df/AllPairs order is the only path with a per-doc rank window
    def hasRankWindow(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("row_number")
    assert(!hasRankWindow(
      Shingles.prefixFilterCandidatesAdaptive(ds, "doc_id", 0.5)),
      "small corpus must take the hash order (no frequency pass)")
    assert(hasRankWindow(
      Shingles.prefixFilterCandidatesAdaptive(ds, "doc_id", 0.5,
        dfOrderMinDocs = 1L)),
      "above threshold must take the df/AllPairs order")
  }

  test("connectedComponents collapses transitive chains to min label") {
    // chain 1-2-3-4 plus pair 10-11 plus chain 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 22L), (20L, 21L))
      .toDF("a", "b")
    val got = Clusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents releases every cached block it created") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    Clusters.connectedComponents(pairs).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("exact dedup keeps lowest id per canonical text") {
    val out = ExactDedup.dedupKeepFirst(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L, 6L)) // 4 deduped into 1
  }

  test("shingles: short docs yield empty sets, n-grams are distinct") {
    val sh = corpus.select($"doc_id", Shingles.shingles($"text", 30).as("sh"))
      .select($"doc_id", size($"sh").as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(5L) == 0) // 2 tokens < 30
  }

  /** dedupKeepFirst's semi-join is keyed on dedup_key alone (winner
    * identity as a non-equi residual), so the shuffled plan reuses the
    * winners aggregation's exchange: ≤2 shuffle exchanges end-to-end
    * where the (key, id)-keyed spelling planned 3. */
  test("dedupKeepFirst shares the winners exchange under SMJ") {
    val docs = (1L to 40L).map(i => (i, s"t${i % 7}")).toDF("doc_id", "text")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.dedup.ExactDedup.dedupKeepFirst(docs, "doc_id", "text")
      out.collect() // finalize the adaptive plan
      val exchanges = out.queryExecution.executedPlan.collectWithSubqueries {
        case s: ShuffleExchangeLike => s
      }
      assert(exchanges.size <= 2,
        s"keep-first plans ${exchanges.size} shuffle exchanges:\n" +
          out.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
  }

  /** The non-equi winner residuals must select EXACTLY the old rows:
    * keep-first = min id per text, keep-best = max (priority, -id). */
  test("keep-first / keep-best winners unchanged by the residual rewrite") {
    val rnd = new scala.util.Random(1707)
    val rows = (1 to 300).map { i =>
      (i.toLong, s"t${rnd.nextInt(40)}", rnd.nextInt(5).toDouble)
    }
    val docs = rows.toDF("doc_id", "text", "pri")
    val first = graft.dedup.ExactDedup
      .dedupKeepFirst(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val expFirst = rows.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(first == expFirst, "keep-first winner set drifted")
    val best = graft.dedup.ExactDedup
      .dedupKeepBest(docs, "doc_id", "text", "pri")
      .select("doc_id").as[Long].collect().toSet
    val expBest = rows.groupBy(_._2).values
      .map(g => g.maxBy(r => (r._3, -r._1))._1).toSet
    assert(best == expBest, "keep-best winner set drifted")
  }
}
