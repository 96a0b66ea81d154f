package graft

import org.apache.spark.sql.functions._
import graft.dedup.Containment
import graft.sim.SparseCosine

/** Brute-force cross-checks on seeded random inputs for the r9
  * lexical-similarity operators — the oracle gates pin one corpus;
  * these pin the ALGEBRA (any corpus), so a refactor that survives the
  * fixed dataset by luck still fails here. The graph operators' twins
  * live in TrianglesSpec and KCoreSpec. */
class LexicalSimSpec extends SparkSpecBase {
  import spark.implicits._

  private val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")

  private def randomDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val len = 6 + rnd.nextInt(10)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  private def shingleSet(text: String, n: Int): Set[String] =
    text.split("\\s+").toSeq.sliding(n).filter(_.size == n)
      .map(_.mkString(" ")).toSet

  test("containment matches brute force on random docs") {
    val docs = randomDocs(7, 40)
    val df = docs.toDF("doc_id", "text")
    val maxDf = 15
    // reference: df-windowed shingle space, exact pairwise containment
    val sets = docs.map { case (id, t) => id -> shingleSet(t.toLowerCase, 3) }
    val dfCount = sets.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val keptSets = sets.map { case (id, s) =>
      id -> s.filter(sh => dfCount(sh) >= 2 && dfCount(sh) <= maxDf)
    }.toMap
    val expected = (for {
      (a, sa) <- keptSets; (b, sb) <- keptSets
      if a < b && sa.nonEmpty && sb.nonEmpty
      common = (sa & sb).size
      cab = BigDecimal(common.toDouble / sa.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      cba = BigDecimal(common.toDouble / sb.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cab >= 0.3 || cba >= 0.3
    } yield (a, b) -> ((cab, cba))).toMap
    val got = Containment.pairs(df, "doc_id", "text",
        threshold = 0.3, n = 3, maxDf = maxDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == expected,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
  }

  test("sparse cosine ranks the exact tf-idf cosine on random docs") {
    val docs = randomDocs(11, 30)
    val df = docs.toDF("doc_id", "text")
    val got = SparseCosine.topPairs(df, "doc_id", "text",
        k = 5, maxDf = 20, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // reference: exact tf-idf cosine in the same pruned space
    val shingles = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").toSeq.sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")).toSeq
    }
    val dfCount = shingles.flatMap(_._2.distinct)
      .groupBy(identity).view.mapValues(_.size)
    val n = docs.size.toDouble
    val w = shingles.map { case (id, sh) =>
      id -> sh.groupBy(identity).collect {
        case (s, occ) if dfCount(s) >= 2 && dfCount(s) <= 20 =>
          s -> occ.size * BigDecimal(math.log(n / dfCount(s)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }.toMap
    def cos(a: Long, b: Long): Option[Double] = {
      val (wa, wb) = (w(a), w(b))
      val dot = wa.keySet.intersect(wb.keySet).toSeq
        .map(s => wa(s) * wb(s)).sum
      if (dot == 0.0) None
      else {
        val na = math.sqrt(wa.values.map(x => x * x).sum)
        val nb = math.sqrt(wb.values.map(x => x * x).sum)
        Some(BigDecimal(dot / (na * nb))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      c <- cos(a, b)
    } yield (a, b, c)).sortBy { case (a, b, c) => (-c, a, b) }.take(5)
    assert(got.toSeq == expected, s"got=${got.toSeq}\nexpected=$expected")
  }
}
