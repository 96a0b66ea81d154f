package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic REAL audio payloads for the decode pipeline: 16-bit
  * signed mono PCM whose every sample is a pure function of
  * (doc_id, i), encoded through the JRE's own WAV writer
  * (`javax.sound.sampled` ships with every JRE — no external codec).
  *
  * sample(i) = ((doc_id·31 + i·17) mod 4096) − 2048,
  * n_samples  = 400 + doc_id mod 200,
  * rate       = 8000 + (doc_id mod 3)·4000 Hz.
  *
  * WAV/PCM is lossless, so decoding MUST reproduce the samples
  * exactly — the oracle replays the sample arithmetic in closed form
  * (DuckDB `generate_series`) while Spark actually round-trips the
  * bytes through the codec. Container byte size (headers, chunk
  * padding) is deliberately NOT part of any gate — only decoded
  * properties are. Same design as [[SyntheticImages]] for PNG.
  */
object SyntheticAudio {

  def nSamples(id: Long): Int = (400 + Math.floorMod(id, 200)).toInt
  def sampleRate(id: Long): Int = (8000 + Math.floorMod(id, 3) * 4000).toInt
  def sample(id: Long, i: Int): Short =
    (Math.floorMod(id * 31L + i * 17L, 4096L) - 2048L).toShort

  /** WAV (RIFF/PCM) bytes of the doc's test signal. Written through
    * [[WavCodec]] — `AudioSystem.write` consults the same globally
    * synchronized provider registry as the read side and serialized
    * the generation half of the gate too. [[wavBytesJre]] keeps the
    * JRE-writer path for the cross-validation spec. */
  def wavBytes(id: Long): Array[Byte] =
    WavCodec.write(sampleRate(id), 1, 16, pcmBytes(id))

  /** The JRE codec's own encoding of the same signal (spec-only). */
  def wavBytesJre(id: Long): Array[Byte] = {
    val pcm = pcmBytes(id)
    val fmt = new AudioFormat(sampleRate(id).toFloat, 16, 1,
      /* signed = */ true, /* bigEndian = */ false)
    val stream = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples(id).toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def pcmBytes(id: Long): Array[Byte] = {
    val n = nSamples(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sample(id, i)
      pcm(2 * i) = (s & 0xFF).toByte          // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    pcm
  }

  /** (doc_id, payload) frame of real WAV bytes, generated partition-
    * parallel in the same mapPartitions shape the decoder consumes.
    *
    * NOT widened (r16 verdict item 1): the PCM pack is a cheap
    * sample-loop byte write, and the added round-robin exchange
    * regressed the gate 2× (r16 full draws: mm_audio_decode
    * 0.287→0.582 s). Cost-aware per-call-site rule — see
    * BinaryPipeline.withPayload doc. */
  def withWavPayload(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map(id => (id, wavBytes(id))))
      .toDF("doc_id", "payload")
  }
}
