package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic REAL image payloads for the decode pipeline: an
  * 8-bit grayscale test pattern whose every pixel is a pure function
  * of (doc_id, x, y), encoded through the JRE's own PNG writer.
  *
  * pixel(x, y) = (doc_id + 3x + 7y) mod 256,
  * width = 16 + doc_id mod 16, height = 8 + doc_id mod 8.
  *
  * PNG is lossless, so decoding MUST reproduce the pattern exactly —
  * which is what makes a real codec oracle-checkable without the
  * oracle owning a codec: DuckDB replays the pattern arithmetic in
  * closed form while Spark actually round-trips the bytes through
  * javax.imageio. The encoder's byte output (compression levels,
  * chunk layout) is deliberately NOT part of any gate — only decoded
  * properties are.
  */
object SyntheticImages {

  ImageIoTuning.applied // memory-cached ImageIO streams (no temp files)

  System.setProperty("java.awt.headless", "true")

  /** PNG bytes of the doc's test pattern. */
  def pngBytes(id: Long): Array[Byte] = {
    val w = (16 + Math.floorMod(id, 16)).toInt
    val h = (8 + Math.floorMod(id, 8)).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, Math.floorMod(id + 3L * x + 7L * y, 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** (doc_id, payload) frame of real PNG bytes, generated partition-
    * parallel in the same mapPartitions shape the decoder consumes. */
  def withPngPayload(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // widen before the encode map: the testdata corpus is one parquet
    // row group → a single scan task, which would serialize the PNG
    // encode AND every decode stage that inherits this frame's
    // partitioning (SyntheticVideo doc has the r16 measurement).
    // widen's static-size guard keeps the shuffle conditional.
    graft.core.Parallelism.widen(ids.select(col("doc_id").cast("long")))
      .as[Long]
      .mapPartitions(_.map(id => (id, pngBytes(id))))
      .toDF("doc_id", "payload")
  }

  /** Decode helper shared with tests: parse PNG bytes back. */
  private[multimodal] def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    Option(ImageIO.read(new ByteArrayInputStream(bytes)))
}
