package graft

import org.apache.spark.sql.functions._
import graft.text.Vocab

/** Vocabulary / TF-IDF term statistics. */
class VocabSpec extends SparkSpecBase {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "apple  cherry cherry date"),
      (3L, "date")
    ).toDF("doc_id", "text")
  }

  test("topByDocFreq counts documents, not occurrences; ties break by token") {
    val top = Vocab.topByDocFreq(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // apple/banana/cherry/date all appear in exactly 2 docs → token asc.
    assert(top.toSeq == Seq(("apple", 2L), ("banana", 2L), ("cherry", 2L)))
  }

  test("tfIdfTop scores tf*ln(N/df) and ranks within doc") {
    val out = Vocab.tfIdfTop(docs, "doc_id", "text", nDocs = 4L, perDoc = 1,
        docFilter = col("doc_id") === 0L)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // doc 0: apple tf=2/3 df=2 → (2/3)*ln(2); banana tf=1/3 same idf.
    assert(r.getLong(0) == 0L && r.getString(2) == "apple")
    assert(math.abs(r.getDouble(3) - BigDecimal(2.0 / 3 * math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("docFilter narrows scored docs but not df statistics") {
    // "date" appears in docs 2,3 → df=2 even when only doc 3 is scored;
    // a filter-first implementation would see df=1 and idf=ln(4).
    val out = Vocab.tfIdfTop(docs, "doc_id", "text", nDocs = 4L, perDoc = 1,
        docFilter = col("doc_id") === 3L)
      .collect().head
    assert(out.getString(2) == "date")
    assert(math.abs(out.getDouble(3) - BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("tfIdfTop resolves score ties token-DESC (heap struct order)") {
    val s = spark
    import s.implicits._
    // doc 0: x and y both tf=1/2, df=1 → identical scores; DESC keeps y first
    val d = Seq((0L, "x y"), (1L, "p q")).toDF("doc_id", "text")
    val out = Vocab.tfIdfTop(d, "doc_id", "text", nDocs = 2L, perDoc = 2,
        docFilter = col("doc_id") === 0L)
      .orderBy("rank").collect().map(_.getString(2)).toSeq
    assert(out == Seq("y", "x"), s"got $out")
  }

  test("lmLogProb pools sub-minCount tokens into one OOV bucket") {
    val s = spark
    import s.implicits._
    // corpus: a a a b c (N=5): cnt(a)=3 kept; b,c rare -> oov_cnt=2
    val d = Seq((1L, "a a a"), (2L, "b c")).toDF("doc_id", "text")
    val out = Vocab.lmLogProb(d, "doc_id", "text", minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == r6(math.log(3) - math.log(5)))
    // b and c each score ln(oov mass)=ln 2, NOT ln(1)=0
    assert(out(2L) == r6(math.log(2) - math.log(5)))
  }

  test("lmLogProb matches hand-computed mean unigram log-prob") {
    val s = spark
    import s.implicits._
    // corpus: a a a b  (N=4; cnt(a)=3, cnt(b)=1)
    val d = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = Vocab.lmLogProb(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: mean(ln 3, ln 3) - ln 4 ; doc 2: mean(ln 3, ln 1) - ln 4
    assert(out(1L) == r6(math.log(3) - math.log(4)))
    assert(out(2L) == r6(math.log(3) / 2 - math.log(4)))
    // lower-probability tokens -> lower score
    assert(out(2L) < out(1L))
  }

  test("Kneser–Ney matches the independent reimplementation on random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c", "dd", "ee", "ff", "gg")
    for (trial <- 1 to 5) {
      val docs = (1L to (3 + rnd.nextInt(5))).map { id =>
        val n = 2 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val D = 0.75
      val bigrams = docs.flatMap { case (id, t) =>
        val w = t.split("\\s+").filter(_.nonEmpty)
        w.zip(w.tail).map(p => (id, p))
      }
      val cab = bigrams.groupBy(_._2).map { case (p, xs) => p -> xs.size }
      val ctxa = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
      val n1f = cab.groupBy(_._1._1).map { case (a, m) => a -> m.size }
      val n1b = cab.groupBy(_._1._2).map { case (b, m) => b -> m.size }
      val bb = cab.size.toDouble
      def p(a: String, b: String): Double =
        (cab((a, b)) - D) / ctxa(a) +
          ((D * n1f(a)) / ctxa(a)) * (n1b(b) / bb)
      val expected = docs.flatMap { case (id, t) =>
        val w = t.split("\\s+").filter(_.nonEmpty)
        val bs = w.zip(w.tail)
        if (bs.isEmpty) None
        else Some(id -> bs.map { case (a, b) => math.log(p(a, b)) }.sum / bs.size)
      }.toMap
      val got = graft.text.Vocab
        .kneserNeyLogProb(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == expected.keySet, s"trial $trial keys")
      got.foreach { case (id, v) =>
        assert(math.abs(v - expected(id)) < 1e-5,
          s"trial $trial doc $id: got $v expected ${expected(id)}")
      }
      // every context's probability mass must close to 1
      ctxa.keys.foreach { a =>
        val seen = cab.collect { case ((x, b), _) if x == a => p(a, b) }.sum
        val unseen = n1b.keys.toSeq.filterNot(b => cab.contains((a, b)))
          .map(b => ((D * n1f(a)) / ctxa(a)) * (n1b(b) / bb)).sum
        assert(math.abs(seen + unseen - 1.0) < 1e-9, s"trial $trial ctx $a")
      }
    }
  }
}
