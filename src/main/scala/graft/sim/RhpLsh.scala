package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Random-hyperplane (sign-projection) LSH for cosine similarity — the
  * bucketed scale path for embedding near-duplicate detection,
  * complementing `Similarity.nearDupPairs` (the exact baseline) and
  * `Similarity.Ivf` (query-time ANN).
  *
  * Signature: nBits sign bits of dot products against fixed seeded
  * hyperplanes (sign(v·w_j) survives any rotation-invariant scaling, so
  * P[bit collision] = 1 - θ/π — the standard SRP-LSH guarantee).
  * Candidates: banded signature buckets (pigeonhole: two vectors at
  * cosine ≥ τ disagree on few bits, so some band of consecutive bits
  * matches with high probability). Verification: exact cosine on
  * candidates only.
  *
  * Scale shape (same as dedup.MinHashLSH): the corpus-wide work is one
  * explode + two partial-aggregable shuffles of (id, band) pairs; the
  * self-join runs on (band, bandValue) buckets whose size tracks true
  * duplicate density, never O(n²). Embedding payloads move once into
  * the signature pass and once per verified candidate.
  *
  * Banding pays only when it removes more pairs than it adds rows: at
  * nBands ≥ 2^bandBits a random pair is expected to share a band, so
  * [[nearDupPairs]] checks the geometry driver-side ([[bandingPrunes]])
  * and runs the exact blocked all-pairs kernel instead
  * ([[Similarity.nearDupPairsBlocked]]) — the low-threshold audit
  * geometry of `dedup_embedding` (32 bands × 2 bits, 8 shared bands
  * per random pair) takes that path; the production geometries (8
  * bands of 16 or 32 bits) keep banding.
  */
object RhpLsh {

  /** Deterministic ±1 hyperplane components, seeded driver-side
    * (Rademacher planes are standard for SRP and keep the dot products
    * exact in integer-scaled arithmetic). Broadcast-sized: nBits×dim. */
  def planeMatrix(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** [[planeMatrix]] as a (j, i, w) DataFrame for the declarative
    * signature path. */
  def planes(spark: SparkSession, dim: Int, nBits: Int, seed: Long): DataFrame = {
    val m = planeMatrix(dim, nBits, seed)
    val rows = for (j <- 0 until nBits; i <- 0 until dim) yield (j, i, m(j)(i))
    import spark.implicits._
    rows.toDF("j", "i", "w")
  }

  /** Per-vector nBits signature as a long bitmap.
    *
    * Default path: the native [[graft.plans.RhpSig]] kernel — the whole
    * signature stays inside the projection (no shuffle until the LSH
    * bucket join). `native = false` keeps the declarative
    * explode + broadcast-join + partial-aggregable-sum formulation,
    * bit-exact with the kernel (both fold the dot product
    * left-to-right); SimSpec asserts the equivalence. */
  def signatures(corpus: DataFrame, idCol: String, vecCol: String,
                 nBits: Int = 16, seed: Long = 42,
                 native: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(native || nBits <= 64,
      "the declarative parity path packs one 64-bit word")
    if (nBits > 64)
      // wide signature: array of 64-bit words (band geometry must grow
      // with the corpus — see RhpSigWide)
      corpus.select(col(idCol).as("id"),
        graft.plans.RhpSigWide(col(vecCol).cast("array<double>"),
          planeMatrix(dim, nBits, seed)).as("sig"))
    else if (native)
      corpus.select(col(idCol).as("id"),
        graft.plans.RhpSig(col(vecCol).cast("array<double>"),
          planeMatrix(dim, nBits, seed)).as("sig"))
    else {
      val p = planes(spark, dim, nBits, seed)
      corpus
        .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("i", "v")))
        .join(broadcast(p), "i")
        .groupBy(col("id"), col("j"))
        .agg(sum(col("v").cast("double") * col("w")).as("proj"))
        .groupBy("id")
        .agg(sum(when(col("proj") >= 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
          .otherwise(0L)).as("sig"))
    }
  }

  /** All-pairs within at-cap buckets, star-links within over-cap ones.
    *
    * A bucket larger than `maxBucketSize` is, by the banding math, a
    * dense duplicate cluster (random band collisions are ~n²/2^bandBits
    * — sized to stay far below the cap), and all-pairs inside it is the
    * one quadratic term the bucketed plan can hit. Dropping such
    * buckets (the pre-r6 behavior) silently un-deduped exactly the
    * heavy-duplicate clusters a production dedup targets. Instead each
    * over-cap bucket DEGRADES: every member is linked to the bucket's
    * minimum id, so candidate volume stays linear in bucket size and a
    * keep-lowest-id dedup still removes every member that matches the
    * representative. Exactness caveat: a member whose similarity to
    * the representative falls below the verify threshold keeps only
    * its star edge from this bucket (other bands may still pair it),
    * so for clusters TIGHTER than the threshold — the case that
    * produces over-cap buckets at all — the result equals all-pairs. */
  private def bucketJoin(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window.partitionBy("band", "bval")
    val sized = banded
      .withColumn("__n", count(lit(1)).over(win))
      .withColumn("__min", min(col("id")).over(win))
    val small = sized.where(col("__n") <= maxBucketSize)
    val l = small.select(col("band"), col("bval"), col("id").as("a"))
    val r = small.select(col("band"), col("bval"), col("id").as("b"))
    val allPairs = l.join(r, Seq("band", "bval"))
      .where(col("a") < col("b"))
      .select("a", "b")
    val starPairs = sized.where(col("__n") > maxBucketSize)
      .where(col("id") =!= col("__min"))
      .select(col("__min").as("a"), col("id").as("b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** Candidate pairs from banded buckets: band b = bits
    * [b·bandBits, (b+1)·bandBits); equal band value → candidate. A pair
    * matching k bands surfaces k times and one distinct() collapses
    * them; over-cap buckets degrade to star-links ([[bucketJoin]])
    * instead of being dropped, and an uncapped call (`maxBucketSize =
    * Int.MaxValue`) has no over-cap bucket, so it returns every pair
    * that shares a band. */
  def candidatePairs(sigs: DataFrame, nBits: Int, bandBits: Int,
                     maxBucketSize: Int = 1000): DataFrame = {
    val nBands = nBits / bandBits
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(sequence(lit(0), lit(nBands - 1))).as(Seq("pos", "band")))
      .select(col("id"), col("band"),
        expr(s"shiftrightunsigned(sig, band * $bandBits)")
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bval"))
    bucketJoin(banded, maxBucketSize)
  }

  /** [[candidatePairs]] over wide (array-of-words) signatures:
    * `bandBits` must divide 64 so no band spans a word boundary; band
    * b reads bits [b·bandBits, …) of word b·bandBits/64. Same
    * capped+distinct shape; over-cap buckets degrade to star-links
    * ([[bucketJoin]]). */
  def candidatePairsWide(sigs: DataFrame, nBits: Int, bandBits: Int,
                         maxBucketSize: Int = 1000): DataFrame = {
    require(64 % bandBits == 0, s"bandBits must divide 64, got $bandBits")
    val nBands = nBits / bandBits
    val perWord = 64 / bandBits
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(sequence(lit(0), lit(nBands - 1))).as(Seq("pos", "band")))
      .select(col("id"), col("band"),
        expr(s"shiftrightunsigned(element_at(sig, CAST(band div $perWord AS INT) + 1), " +
            s"CAST((band % $perWord) * $bandBits AS INT))")
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bval"))
    bucketJoin(banded, maxBucketSize)
  }

  /** Driver-side band geometry for the production near-dup regime,
    * chosen from corpus size the way `Shingles
    * .prefixFilterCandidatesAdaptive` picks its prefix order: pick the
    * narrowest bandBits ∈ {8, 16, 32} whose value space covers the
    * corpus (2^bandBits ≥ n), so EXPECTED random-pair collisions per
    * band value stay Θ(1) and candidate volume tracks true duplicate
    * density; keep 8 bands (per-pair miss at the duplicate-regime
    * per-bit collision p ≈ 0.99: (1 − p^bandBits)^8 — ≤ 4e-9 for
    * bandBits 8, ≤ 2.4e-7 for 16, bounded by exact verify either way).
    * Returns (nBits, bandBits); nBits = 8 × bandBits, so n ≤ 256 uses
    * the single-word kernel and larger corpora the wide one.
    * Geometry table: see docs/SCALE.md. */
  def chooseProdGeometry(n: Long): (Int, Int) = {
    val bandBits = Seq(8, 16, 32).find(b => (1L << b) >= n).getOrElse(32)
    (8 * bandBits, bandBits)
  }

  /** Whether banding can prune at this geometry: a random pair agrees
    * on a band with probability 2^-bandBits, so it is expected to share
    * nBands / 2^bandBits bands. From 1 up (e.g. 32 bands of 2 bits: 8
    * per pair) nearly every pair becomes a candidate, and the banded
    * stage costs more than the exact all-pairs pass it must reproduce.
    * Decided driver-side from the geometry alone, like
    * [[chooseProdGeometry]]. */
  def bandingPrunes(nBits: Int, bandBits: Int): Boolean =
    bandBits >= 31 || nBits / bandBits < (1 << bandBits)

  /** End-to-end near-duplicate pairs at/above `threshold`. Where
    * banding can prune ([[bandingPrunes]]): signature → banded
    * candidates → exact-cosine verification, so precision is 1 by
    * construction and recall is the banding probability, asserted
    * against the exact baseline in SimSpec. Where it cannot, the exact
    * blocked all-pairs pass ([[Similarity.nearDupPairsBlocked]]), whose
    * output is the baseline's exactly. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, nBits: Int = 16, bandBits: Int = 4,
                   seed: Long = 42, roundTo: Int = 4,
                   maxBucketSize: Int = 1000): DataFrame = {
    if (!bandingPrunes(nBits, bandBits))
      return Similarity.nearDupPairsBlocked(corpus, idCol, vecCol, threshold, roundTo)
    val sigs = signatures(corpus, idCol, vecCol, nBits, seed)
    // persisted (a,b) pairs give AQE real stats for the verify joins;
    // the estimate otherwise forces a SortMergeJoin that shuffles the
    // embedding arrays once per candidate (the candidate stream is
    // long-pairs — cheap to spill; the vectors are the heavy side)
    val cands = (if (nBits <= 64) candidatePairs(sigs, nBits, bandBits, maxBucketSize)
                 else candidatePairsWide(sigs, nBits, bandBits, maxBucketSize))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vec = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      Similarity.norm(col(vecCol)).as("__n"))
    cands
      .join(vec.select(col("__id").as("a"), col("__v").as("va"), col("__n").as("na")), "a")
      .join(vec.select(col("__id").as("b"), col("__v").as("vb"), col("__n").as("nb")), "b")
      .select(col("a"), col("b"),
        graft.functions.ScoreFns.scoreRound(
          Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")),
          roundTo).as("cos"))
      .where(col("cos") >= threshold)
  }
}
