package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame

import graft.sim.Similarity

/** The blocked dense kernel (`Similarity.nearDupPairsBlocked`, scored
  * by `plans.BlockCosine`) against the cross-join baseline
  * `Similarity.nearDupPairs`: the same (a, b, cos) rows bit for bit —
  * or the same error — on seeded corpora that span several blocks,
  * on pairs planted at the rounding boundary, on degenerate vectors
  * and corpora, and at a threshold most pairs pass. */
class BlockCosineSpec extends SparkSpecBase {
  import spark.implicits._

  /** Vectors per block at `dim` elements. */
  private def blockLength(dim: Int): Int = Similarity.BlockBytes / (8 * dim)

  /** (a, b, raw bits of cos), ordered by (a, b): compares NaN and the
    * sign of zero exactly. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("a", "b", "cos").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sortBy(r => (r._1, r._2))

  private def assertSame(corpus: DataFrame, threshold: Double): Seq[(Long, Long, Long)] = {
    val want = rows(Similarity.nearDupPairs(corpus, "vec_id", "embedding", threshold))
    val got = rows(Similarity.nearDupPairsBlocked(corpus, "vec_id", "embedding", threshold))
    assert(got == want, s"missed=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    got
  }

  private def gaussian(rnd: scala.util.Random, dim: Int): Array[Float] =
    Array.fill(dim)(rnd.nextGaussian().toFloat)

  test("seeded corpora spanning several blocks, with planted near-dups, match the baseline") {
    val dim = 256
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 3 * blockLength(dim) + 40
      // distinct ids with gaps, in shuffled order
      val ids = rnd.shuffle((0L until 3L * n).toVector).take(n)
      val vecs = ids.map(_ => gaussian(rnd, dim))
      val planted = (0 until 30).map { k =>
        val src = vecs(rnd.nextInt(n))
        (5000L + k, src.map(x => x + 0.6f * rnd.nextGaussian().toFloat))
      }
      val corpus = (ids.zip(vecs) ++ planted).toDF("vec_id", "embedding")
      assert((ids ++ planted.map(_._1)).map(_ / blockLength(dim)).distinct.size >= 3)
      val got = assertSame(corpus, 0.2)
      assert(got.exists(_._1 < 5000L) && got.exists(_._2 >= 5000L),
        s"seed $seed: expected random and planted pairs, got ${got.size}")
    }
  }

  test("pairs straddling the rounding boundary survive the kernel's prefilter") {
    val tau = 0.46
    val edge = tau - 5e-5 // the smallest value that rounds (HALF_UP) to tau
    val targets = Seq(edge - 1e-6, edge - 1e-12, edge, edge + 1e-12, edge + 1e-6,
      tau - 1e-4 - 1e-9, tau - 1e-4 + 1e-9, tau)
    // pair k lives in its own plane (dims 2k, 2k+1), so cross-pair
    // cosines are 0 and each planted pair's cosine is its target
    val dim = 2 * targets.length
    val corpus = targets.zipWithIndex.flatMap { case (c, k) =>
      val base = Array.fill(dim)(0.0)
      base(2 * k) = 1.0
      val other = Array.fill(dim)(0.0)
      other(2 * k) = c
      other(2 * k + 1) = math.sqrt(1 - c * c)
      Seq((2L * k, base), (2L * k + 1, other))
    }.toDF("vec_id", "embedding")
    val got = assertSame(corpus, tau)
    // the two pairs just above the edge have an unrounded cosine below
    // tau and must come out rounded up to exactly tau
    Seq(3, 4).foreach { k =>
      assert(got.contains((2L * k, 2L * k + 1, java.lang.Double.doubleToRawLongBits(tau))),
        s"pair $k at ${targets(k)} lost: $got")
    }
  }

  private val degenerate: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => i -> gaussian(rnd, 8))
    val short = gaussian(rnd, 5)
    base ++ Seq(
      100L -> Array.fill(8)(0f), // zero vector
      101L -> null, // null vector
      102L -> short, // length mismatch, twice, so the pair scores
      103L -> short.map(_ * 1.01f),
      104L -> base.head._2.map(_ * 2f), // a near-dup of id 0
      105L -> base(1)._2.updated(0, Float.NaN)) // NaN cosine with all
  }

  test("zero, null, NaN and length-mismatched vectors: same rows as the baseline") {
    val got = assertSame(degenerate.toDF("vec_id", "embedding"), 0.3)
    assert(got.exists(r => r._1 == 102L && r._2 == 103L), got)
    assert(got.exists(r => r._1 == 0L && r._2 == 104L), got)
    // Spark orders NaN above every value, so NaN cosines pass: 105
    // pairs with every length-8 vector, the zero vector too (0 · NaN);
    // the zero vector's other pairs divide by 0 (null), and the null
    // vector pairs with nothing
    assert(got.count(_._2 == 105L) == 32, got)
    assert(got.filter(r => r._1 == 100L || r._2 == 100L).map(r => (r._1, r._2)) ==
      Seq((100L, 105L)), got)
    assert(!got.exists(r => r._1 == 101L || r._2 == 101L), got)
  }

  test("zero norms under ANSI: the same division error as the baseline") {
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    import ansi.implicits._
    def condition(df: DataFrame): String = {
      val e = intercept[Throwable](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
        .getOrElse(fail(s"no error condition in $e"))
    }
    // a zero vector (0 / 0), and a norm that underflows to 0 while the
    // dot product does not (a negative dot over 0: -Infinity)
    val tiny = Seq(1L -> Array(1e-170, 1e-170), 2L -> Array(-1.0, -1.0))
    for (corpus <- Seq(degenerate.toDF("vec_id", "embedding"), tiny.toDF("vec_id", "embedding"))) {
      val want = condition(Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.3))
      val got = condition(Similarity.nearDupPairsBlocked(corpus, "vec_id", "embedding", 0.3))
      assert(want == "DIVIDE_BY_ZERO" && got == want)
    }
  }

  test("an empty corpus and a one-vector corpus yield no pairs") {
    assert(assertSame(Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), 0.5).isEmpty)
    assert(assertSame(Seq(7L -> Array(1f, 2f)).toDF("vec_id", "embedding"), -1.0).isEmpty)
  }

  test("a low threshold that most pairs pass") {
    val rnd = new scala.util.Random(5)
    val n = 300
    val corpus = (0L until n).map(i => i -> Array.fill(32)(rnd.nextFloat()))
      .toDF("vec_id", "embedding")
    val got = assertSame(corpus, 0.5)
    assert(got.size > n * (n - 1) / 2 / 2, s"${got.size} pairs")
  }
}
