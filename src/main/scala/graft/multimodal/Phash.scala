package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual-hash-style near-duplicate detection for binary media
  * columns.
  *
  * Real pHash downsamples the decoded image to an 8×8 grid and sets
  * bit i when cell i is brighter than the median. The codec is not in
  * this container (same stance as BinaryPipeline.stubDecode), so the
  * stub signature applies the identical STRUCTURE directly to payload
  * bytes: 64 equal positional segments, bit i = parity of segment i's
  * byte sum. Locality is the property under test — a localized payload
  * edit flips only its segment's bit, so Hamming distance counts
  * differing regions exactly like grid-phash counts differing cells.
  * Swap [[ofBytes]] for a DCT-based kernel when a real decoder exists;
  * the banding, verification, and plan shape stay as they are.
  *
  * Scale shape: signatures are a narrow per-row map (the
  * mapInPandas-equivalent BinaryPipeline.decode shape); candidate
  * generation is the SimHash 4×16-band bucket join (pairs ∝ true
  * collisions, never all-pairs); verification is one bit_count(xor)
  * per candidate.
  */
object Phash {

  /** 64-segment parity signature of a payload. Empty segments (short
    * payloads) contribute a 0 bit. */
  def ofBytes(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    var i = 0
    while (i < n) {
      // segment of 0-based position i: floor(i*64/n), fits in Long
      sums(((i.toLong * 64) / n).toInt) += (bytes(i) & 0xFF)
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if ((sums(b) & 1L) == 1L) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** REAL grid average-hash of a decoded image: 8×8 cells over band-0
    * luminance, bit (cy·8+cx) set iff the cell's mean exceeds the
    * image mean — compared integer-exactly as cellSum·N > totalSum·n_c
    * so an oracle can replay it without floating point. This is the
    * classic aHash structure: a localized edit perturbs its cells'
    * means only, so Hamming distance counts differing regions. */
  def ofImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    if (w == 0 || h == 0) return 0L
    val raster = img.getRaster
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val c = cy * 8 + x * 8 / w
        val v = raster.getSample(x, y, 0).toLong
        sums(c) += v
        counts(c) += 1
        total += v
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0 && sums(b) * n > total * counts(b)) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** (doc_id, phash) from REAL image payloads: javax.imageio decode +
    * grid hash fused in one pass (decode→featurize never
    * materializes rasters between stages). Null/undecodable payloads
    * hash to 0L — total like [[signatures]]. */
  def signaturesFromImages(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Long)] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        System.setProperty("java.awt.headless", "true")
        it.map { case (id, bytes) =>
          val sig =
            if (bytes == null || bytes.isEmpty) 0L
            else try SyntheticImages.readImage(bytes).map(ofImage).getOrElse(0L)
            catch { case _: Exception => 0L }
          (id, sig)
        }
      }
    ds.toDF("doc_id", "phash")
  }

  /** (doc_id, phash) via the per-partition decode shape. Total
    * over null payloads: a null decodes like an empty one (signature
    * 0L) — corrupt/absent media must not kill a 100 TB pass. */
  def signatures(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Long)] = payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, if (bytes == null) 0L else ofBytes(bytes))
      })
    ds.toDF("doc_id", "phash")
  }

  /** Near-duplicate pairs at Hamming <= maxHamming via 4×16-bit banded
    * candidates (pigeonhole-complete for maxHamming <= 3; a recall
    * heuristic above that, like all banded LSH). `maxBucketSize` skips
    * degenerate buckets — byte-identical boilerplate media — exactly
    * like MinHashLSH.candidatePairs, keeping the join's pair volume
    * ∝ true near-duplicates at any corpus size. */
  def nearPairs(sigs: DataFrame, maxHamming: Int,
                maxBucketSize: Int = 1000): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map { b =>
        shiftrightunsigned(col("phash"), 16 * b).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("band", "bval")))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bval")))
      .where(col("__n") <= maxBucketSize)
      .drop("__n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("band"), col("bval"),
      col("doc_id").as("a"), col("phash").as("pa"))
    val r = banded.select(col("band"), col("bval"),
      col("doc_id").as("b"), col("phash").as("pb"))
    l.join(r, Seq("band", "bval"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(pa ^ pb)").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
