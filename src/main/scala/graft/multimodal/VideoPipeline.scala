package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** REAL video decode for uncompressed-DIB AVI payloads via
  * [[AviCodec]], in the same mapPartitions shape as the image
  * and audio decoders. With this, every media family has a real
  * decoder for at least one lossless format (PNG/BMP/GIF/JPEG images,
  * PCM WAV audio, DIB AVI video); compressed video codecs plug into
  * the same shape via FFI in production.
  *
  * Total over garbage: null, empty, or undecodable payloads yield a
  * zero-dimension row. checksum = Σ_f (f+1) · Σ_pixels
  * channel0(x, y) · (y·w + x + 1) — order-sensitive across pixels AND
  * frames, closed-form replayable for [[SyntheticVideo]] patterns.
  *
  * Scale: narrow map-only pass, no shuffle, one payload held at a time
  * per task. Frame explode ([[decodeFrames]]) is a
  * generator, not a join — frame rows never shuffle.
  */
object VideoPipeline {

  final case class DecodedVideo(
      doc_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, fps: Int, n_frames: Int, checksum: Long)

  final case class DecodedFrame(
      doc_id: Long, frame_idx: Int, frame_ts: Double, frame_checksum: Long)

  private def frameChecksum(v: AviCodec.Video, f: Array[Byte]): Long = {
    var cs = 0L
    var y = 0
    while (y < v.height) {
      var x = 0
      while (x < v.width) {
        cs += v.channel0(f, x, y).toLong * (y.toLong * v.width + x + 1)
        x += 1
      }
      y += 1
    }
    cs
  }

  /** Per-partition AVI decode: one summary row per video. */
  def decodeVideo(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[DecodedVideo] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val mt = BinaryPipeline.sniffMediaType(bytes)
        val n = if (bytes == null) 0L else bytes.length.toLong
        AviCodec.read(bytes) match {
          case Some(v) =>
            val cs = v.frames.iterator.zipWithIndex
              .map { case (f, i) => (i + 1) * frameChecksum(v, f) }.sum
            DecodedVideo(id, mt, n, v.width, v.height, v.fps,
              v.frames.size, cs)
          case None => DecodedVideo(id, mt, n, 0, 0, 0, 0, 0L)
        }
      })
    ds.toDF()
  }

  final case class VideoFidelity(
      doc_id: Long, media_type: String, width: Int, height: Int,
      fps: Int, n_frames: Int, max_err: Int)

  /** Decode-fidelity audit for LOSSY codecs (MJPG today; any FFI codec
    * later): decode each clip and report the maximum absolute
    * channel-0 error against a reference pattern `ref(id, frame, x,
    * y)`. Lossless paths assert exact checksums ([[decodeVideo]]);
    * lossy ones can only promise a bound, and this makes the bound a
    * measured, gateable number instead of a claim. Undecodable
    * payloads report max_err = -1 (distinct from 0 = bit-exact).
    * Same narrow map-only shape as the decoders. */
  def decodeFidelity(payloads: DataFrame,
                     ref: (Long, Int, Int, Int) => Int): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[VideoFidelity] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val mt = BinaryPipeline.sniffMediaType(bytes)
        AviCodec.read(bytes) match {
          case Some(v) =>
            var err = 0
            v.frames.iterator.zipWithIndex.foreach { case (f, i) =>
              var y = 0
              while (y < v.height) {
                var x = 0
                while (x < v.width) {
                  val d = math.abs(v.channel0(f, x, y) - ref(id, i, x, y))
                  if (d > err) err = d
                  x += 1
                }
                y += 1
              }
            }
            VideoFidelity(id, mt, v.width, v.height, v.fps, v.frames.size, err)
          case None => VideoFidelity(id, mt, 0, 0, 0, 0, -1)
        }
      })
    ds.toDF()
  }

  /** Per-partition frame extraction: one row per SAMPLED frame
    * (indexes 0, everyN, 2·everyN, …) with its own checksum and
    * timestamp — the real-decode version of the stub
    * [[BinaryPipeline.sampleFrames]]. */
  def decodeFrames(payloads: DataFrame, everyN: Int = 1): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[DecodedFrame] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap {
        case (id, bytes) =>
          AviCodec.read(bytes) match {
            case Some(v) =>
              (0 until v.frames.size by everyN).map { i =>
                DecodedFrame(id, i,
                  math.rint(i.toDouble / v.fps * 1e6) / 1e6,
                  frameChecksum(v, v.frames(i)))
              }
            case None => Nil
          }
      })
    ds.toDF()
  }
}
