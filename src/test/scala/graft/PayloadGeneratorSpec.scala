package graft

import org.apache.spark.sql.functions._

/** The synthetic payload generators widen a stage only where the
  * encode is expensive, and never change what they generate. */
class PayloadGeneratorSpec extends SparkSpecBase {

  /** The synthetic payload generators repartition the id list to core
    * count before the encode map (single-row-group testdata otherwise
    * serializes the codec work on one task). The repartition must not
    * change WHAT is generated — same (doc_id, payload) set — and must
    * actually widen the stage. */
  test("payload generators parallelize without changing content") {
    val ids = spark.range(0, 40).select(col("id").as("doc_id"))
      .coalesce(1)
    val out = graft.multimodal.SyntheticImages.withPngPayload(ids)
    assert(out.rdd.getNumPartitions > 1,
      "payload generation still single-partition")
    val got = out.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got.keySet == (0L until 40L).toSet)
    // content identical to a direct single-threaded encode
    (0L until 40L).foreach { id =>
      val direct = graft.multimodal.SyntheticImages.withPngPayload(
        spark.range(id, id + 1).select(col("id").as("doc_id")))
        .collect()(0).getAs[Array[Byte]](1).toSeq
      assert(got(id) == direct, s"payload for id $id differs")
    }
  }

  /** The CHEAP payload sites (utf-8 / PCM / DIB packing) must not add
    * a repartition — r16 measured the added round-robin exchange at
    * 2–2.5× the cost of the map it widened — while the expensive
    * PNG/JPEG encodes keep the widen (pinned above). */
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
}
