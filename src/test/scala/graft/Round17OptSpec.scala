package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Behavioral pins for the round-17 optimizations: cost-aware payload
  * widening and ExactDedup's shared winners exchange (the iterative
  * loops' pins live in LoopLifecycleSpec).
  */
class Round17OptSpec extends SparkSpecBase {
  import spark.implicits._

  /** The CHEAP payload sites (utf-8 / PCM / DIB packing) must not add
    * a repartition — r16 measured the added round-robin exchange at
    * 2–2.5× the cost of the map it widened — while the expensive
    * PNG/JPEG encodes keep the widen (pinned by Round16OptSpec). */
  test("cheap payload generators do not repartition") {
    val ids = spark.range(0, 24).select(col("id").as("doc_id")).coalesce(1)
    val docs = spark.range(0, 24).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text")).coalesce(1)
    assert(graft.multimodal.SyntheticAudio.withWavPayload(ids)
      .rdd.getNumPartitions == 1, "WAV payload site repartitioned")
    assert(graft.multimodal.SyntheticVideo.withAviPayload(ids)
      .rdd.getNumPartitions == 1, "AVI payload site repartitioned")
    assert(graft.multimodal.BinaryPipeline.withPayload(docs, "doc_id", "text")
      .rdd.getNumPartitions == 1, "stub payload site repartitioned")
    // content unchanged vs a direct per-id encode
    val got = graft.multimodal.SyntheticAudio.withWavPayload(ids).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    (0L until 24L).foreach { id =>
      assert(got(id) == graft.multimodal.SyntheticAudio.wavBytes(id).toSeq,
        s"WAV payload for id $id differs")
    }
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
