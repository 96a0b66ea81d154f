package graft.multimodal

import java.io.ByteArrayInputStream

import javax.sound.sampled.AudioSystem

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL audio decode for WAV payloads: `javax.sound.sampled` (the
  * JRE's built-in RIFF/PCM codec), in the same mapPartitions
  * shape as [[BinaryPipeline.decodeImages]]. This retires the stub
  * for audio — of the stubbed media families only video remains
  * JRE-undecodable.
  *
  * Total over garbage: null, empty, or undecodable payloads yield a
  * zero-dimension row rather than killing the pass — at 100 TB some
  * fraction of any crawl's media is corrupt by construction.
  *
  * checksum = Σ_i sample_i · (i + 1) over channel 0 — an
  * order-sensitive sample digest an oracle can replay in closed form
  * for a known test signal ([[SyntheticAudio]]), and a content
  * fingerprint for downstream near-dup ops.
  *
  * Scale: decode is a narrow map-only pass (no shuffle) that holds one
  * payload at a time per task.
  */
object AudioPipeline {

  final case class DecodedAudio(
      doc_id: Long, media_type: String, n_bytes: Long,
      sample_rate: Int, channels: Int, bits: Int,
      n_samples: Long, checksum: Long)

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** Per-partition WAV decode. */
  def decodeAudio(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[DecodedAudio] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeWav(id, bytes) })
    ds.toDF()
  }

  private def zeroRow(id: Long, mt: String, n: Long) =
    DecodedAudio(id, mt, n, 0, 0, 0, 0L, 0L)

  private def decodeWav(id: Long, bytes: Array[Byte]): DecodedAudio = {
    if (bytes == null || bytes.isEmpty) return zeroRow(id, "unknown", 0L)
    val mt = BinaryPipeline.sniffMediaType(bytes)
    // hot path: plain PCM parses lock-free (AudioSystem's provider
    // registry is globally synchronized and serializes all executor
    // threads — see WavCodec); non-PCM encodings fall through to the
    // full JRE codec below
    WavCodec.read(bytes) match {
      case Some(pcm) =>
        var cs = 0L
        if (pcm.bits == 16) {
          val d = pcm.data
          val fb = pcm.frameBytes
          var off = 0
          var i = 0L
          while (off + fb <= d.length) {
            val s = ((d(off + 1) << 8) | (d(off) & 0xFF)).toShort
            cs += s.toLong * (i + 1)
            i += 1
            off += fb
          }
        }
        return DecodedAudio(id, mt, bytes.length.toLong,
          pcm.sampleRate, pcm.channels, pcm.bits, pcm.nFrames, cs)
      case None => () // not plain PCM: try the general codec
    }
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val channels = fmt.getChannels
        val bits = fmt.getSampleSizeInBits
        val frames = in.getFrameLength
        // checksum over channel 0 of 16-bit PCM; other encodings get
        // structure-only metadata (rate/channels/bits/frames)
        var cs = 0L
        if (bits == 16 && frames > 0) {
          val frameBytes = fmt.getFrameSize
          val buf = new Array[Byte](frameBytes * 1024)
          var i = 0L
          var read = in.read(buf)
          while (read > 0) {
            var off = 0
            while (off + frameBytes <= read) {
              val lo = buf(off) & 0xFF
              val hi = buf(off + 1)
              val s = if (fmt.isBigEndian) ((buf(off) << 8) | (buf(off + 1) & 0xFF)).toShort
                      else ((hi << 8) | lo).toShort
              cs += s.toLong * (i + 1)
              i += 1
              off += frameBytes
            }
            read = in.read(buf)
          }
        }
        DecodedAudio(id, mt, bytes.length.toLong,
          fmt.getSampleRate.toInt, channels, bits, frames, cs)
      } finally in.close()
    } catch {
      case _: Exception => zeroRow(id, mt, bytes.length.toLong)
    }
  }
}
