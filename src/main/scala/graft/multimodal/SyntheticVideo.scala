package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic REAL video payloads: uncompressed-DIB AVI whose
  * every pixel is a pure function of (doc_id, frame, x, y), written
  * through [[AviCodec]]. DIB is lossless, so decoding must reproduce
  * the pattern exactly — closed-form-oracle-checkable like
  * [[SyntheticImages]] (PNG) and [[SyntheticAudio]] (PCM).
  *
  * pixel(f, x, y) = (doc_id + 11f + 3x + 7y) mod 256 (B = G = R),
  * width  = 16 + 4·(doc_id mod 4)  (multiple of 4 → no row padding),
  * height = 8 + doc_id mod 8,
  * frames = 4 + doc_id mod 6,
  * fps    = 10 + doc_id mod 5.
  */
object SyntheticVideo {

  ImageIoTuning.applied // memory-cached ImageIO streams (no temp files)

  def width(id: Long): Int = (16 + 4 * Math.floorMod(id, 4)).toInt
  def height(id: Long): Int = (8 + Math.floorMod(id, 8)).toInt
  def nFrames(id: Long): Int = (4 + Math.floorMod(id, 6)).toInt
  def fps(id: Long): Int = (10 + Math.floorMod(id, 5)).toInt
  def pixel(id: Long, f: Int, x: Int, y: Int): Int =
    Math.floorMod(id + 11L * f + 3L * x + 7L * y, 256).toInt

  /** AVI bytes of the doc's test clip. */
  def aviBytes(id: Long): Array[Byte] = {
    val (w, h) = (width(id), height(id))
    val rb = ((w * 3) + 3) / 4 * 4
    val frames = (0 until nFrames(id)).map { f =>
      val buf = new Array[Byte](rb * h)
      var y = 0
      while (y < h) {
        val rowOff = (h - 1 - y) * rb // DIB rows are bottom-up
        var x = 0
        while (x < w) {
          val v = pixel(id, f, x, y).toByte
          buf(rowOff + 3 * x) = v      // B
          buf(rowOff + 3 * x + 1) = v  // G
          buf(rowOff + 3 * x + 2) = v  // R
          x += 1
        }
        y += 1
      }
      buf
    }
    AviCodec.write(w, h, fps(id), frames)
  }

  /** (doc_id, payload) frame of real AVI bytes, generated partition-
    * parallel in the same mapPartitions shape the decoder consumes.
    *
    * NOT widened (r16 verdict item 1): the uncompressed-DIB pack is a
    * straight pixel-array copy — cheap enough that the widen's
    * round-robin exchange cost more than the parallelism bought
    * (measured r16 full draws: mm_video_decode 0.314→0.625 s,
    * mm_video_frames 0.333→0.631 s WITH the widen). The expensive
    * JPEG encode in [[withMjpgPayload]] keeps it — the cost-aware
    * per-call-site rule (see BinaryPipeline.withPayload doc). */
  def withAviPayload(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map(id => (id, aviBytes(id))))
      .toDF("doc_id", "payload")
  }

  /** Wrap-free pixel pattern for the LOSSY clips: a gentle gradient
    * that never leaves [0, 255], so JPEG error measures DCT rounding
    * — codec fidelity — rather than ringing at the mod-256 cliffs of
    * [[pixel]] (measured: the wrapping pattern rings to ±73 at
    * quality 1.0; this one stays within ±4). */
  def mjpgPixel(id: Long, f: Int, x: Int, y: Int): Int =
    (Math.floorMod(id, 32) + 2 * x + 4 * y + 3 * Math.floorMod(f.toLong, 8)).toInt

  /** MJPG AVI bytes of the doc's clip: each frame a standalone JPEG
    * at maximum encoder quality. JPEG is lossy, so the decode contract
    * is BOUNDED pixel error against [[mjpgPixel]] (the mm_video_mjpg
    * gate), not the exact checksum the DIB path gets. Frames are
    * ACHROMATIC RGB (R = G = B), NOT TYPE_BYTE_GRAY: Java's gray type
    * lives in a linear color space, so the JPEG writer gamma-converts
    * the samples (2 → 22, 30 → 96 — a ±73 "error" that is color
    * management, not codec loss); equal-channel RGB maps to Y = v with
    * constant chroma, leaving only DCT rounding. */
  // one JPEG writer per task thread: the per-frame registry lookup +
  // writer construction is pure overhead for thousands of tiny frames
  // (writers are stateful and not thread-safe -> ThreadLocal)
  @transient private lazy val jpegWriterLocal =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter =
        javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    }

  def mjpgBytes(id: Long): Array[Byte] = {
    val (w, h) = (width(id), height(id))
    val frames = (0 until nFrames(id)).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, 0x010101 * mjpgPixel(id, f, x, y))
          x += 1
        }
        y += 1
      }
      val writer = jpegWriterLocal.get()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally { writer.setOutput(null); ios.close() }
      bos.toByteArray
    }
    AviCodec.writeMjpg(w, h, fps(id), frames)
  }

  /** (doc_id, payload) frame of real MJPG AVI bytes. Widened before
    * the encode map: single-row-group testdata reads as ONE scan task
    * and the JPEG encode is the most expensive synthetic payload —
    * 1-core it ran 4.40 s at sf0.1, widened 1.09 s (r16 full draws).
    * The cheap DIB/WAV/utf-8 payload sites deliberately do NOT widen
    * (see BinaryPipeline.withPayload doc). */
  def withMjpgPayload(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    graft.core.Parallelism.widen(ids.select(col("doc_id").cast("long")))
      .as[Long]
      .mapPartitions(_.map(id => (id, mjpgBytes(id))))
      .toDF("doc_id", "payload")
  }
}
