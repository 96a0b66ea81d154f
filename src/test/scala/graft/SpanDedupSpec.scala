package graft

import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.dedup.SpanDedup

class SpanDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val boiler = "all rights reserved do not redistribute this file"

  test("cross-doc duplicated spans are counted per position") {
    val docs = Seq(
      (1L, s"alpha beta gamma $boiler tail one"),
      (2L, s"$boiler completely different content here follows now"),
      (3L, "nothing shared with anything else at all in this document")
    ).toDF("doc_id", "text")
    // w=8: the 8-token boilerplate is one window; doc1 has it at one
    // position, doc2 at one position
    val got = SpanDedup.dupSpanCounts(docs, "doc_id", "text", w = 8)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got.forall(_._2 >= 1))
  }

  test("within-doc repetition alone is not a cross-doc span") {
    val docs = Seq(
      (1L, "x y z x y z x y z x y z"), // repeats internally only
      (2L, "totally unrelated words that never appear twice anywhere else")
    ).toDF("doc_id", "text")
    assert(SpanDedup.dupSpanCounts(docs, "doc_id", "text", w = 4).count() == 0)
  }

  test("spanPairs links exactly the docs sharing a span") {
    val docs = Seq(
      (1L, s"intro $boiler"),
      (2L, s"$boiler outro words"),
      (3L, "independent text with no overlap to speak of here")
    ).toDF("doc_id", "text")
    val got = SpanDedup.spanPairs(docs, "doc_id", "text", w = 8)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
  }

  // ---- maximalDupSpans ----

  test("maximalDupSpans merges overlapping dup windows into maximal runs") {
    // shared phrase "a b c d" (w=3 → dup windows at its 2 positions)
    // appears in docs 1 and 2; doc 1 carries it twice, separated by
    // enough unique filler that the two occurrences stay SEPARATE runs
    val docs = Seq(
      (1L, "a b c d u1 u2 u3 u4 u5 a b c d"),
      (2L, "x y a b c d z w q"),
      (3L, "entirely unique text with no shared window at all")
    ).toDF("doc_id", "text")
    val got = graft.dedup.SpanDedup.maximalDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id", "start_win").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // doc1: tokens 0..3 and 9..12 are "a b c d" → windows {0,1} and {9,10}
    // doc2: tokens 2..5 → windows {2,3}; doc3: nothing
    assert(got.toSeq == Seq(
      (1L, 0L, 1L, 2L, 4L),
      (1L, 9L, 10L, 2L, 4L),
      (2L, 2L, 3L, 2L, 4L)), s"got ${got.toSeq}")
  }

  test("maximalDupSpans bridges touching dup windows (gap == w) only") {
    // doc1 = "p q r s t u": dup windows "p q r" (pos 0) and "s t u"
    // (pos 3) — gap 3 == w, token intervals [0,3) and [3,6) touch →
    // ONE run cutting all 6 tokens. doc2 carries the same two phrases
    // separated by 3 unique tokens (gap 6 > w) → two separate runs.
    val docs = Seq(
      (1L, "p q r s t u"),
      (2L, "p q r z1 z2 z3 s t u")
    ).toDF("doc_id", "text")
    val got = graft.dedup.SpanDedup.maximalDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id", "start_win").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 0L, 3L, 2L, 6L),
      (2L, 0L, 0L, 1L, 3L),
      (2L, 6L, 6L, 1L, 3L)), s"got ${got.toSeq}")
  }

  // ---- excise ----

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("excise equals the hand-computed cut on a planted corpus") {
    val w = 3
    // docs 1 and 2 share the exact 5-token run "p q r s t"; doc 3
    // repeats a window only WITHIN itself (cross-doc test must not
    // cut it); doc 4 is shorter than one window (survives whole)
    val docs = Seq(
      (1L, "a b c p q r s t u v"),
      (2L, "x y p q r s t z"),
      (3L, "m n o m n o m n o"),
      (4L, "s t")).toDF("doc_id", "text")
    val got = graft.dedup.SpanDedup.excise(docs, "doc_id", "text", w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: duplicated windows at positions 3..5 -> cut tokens 3..7
    // ("p q r s t"), keep "a b c u v"
    // doc 2: windows 2..4 -> cut tokens 2..6, keep "x y z"
    assert(got.toSeq == Seq(
      (1L, 10L, 5L, md5("a b c u v")),
      (2L, 8L, 3L, md5("x y z")),
      (3L, 9L, 9L, md5("m n o m n o m n o")),
      (4L, 2L, 2L, md5("s t"))), got.mkString("; "))
  }

  test("excise sweep handles abutting, island-merged, and bridged cuts") {
    // Three geometries for the merged-interval sweep: doc 1 has two
    // well-separated cut islands; doc 2's dup-window runs are within
    // w of each other so maximalDupSpans merges them into ONE island
    // covering the whole doc (empty survivor); doc 3's islands are
    // > w apart, leaving exactly the one bridge token between the two
    // token-disjoint cuts.
    val w = 3
    val docs = Seq(
      (1L, "z1 z2 p q r s z3 z4 u v w x"),
      (2L, "p q r s u v w x"),
      (3L, "p q r s k u v w x")
    ).toDF("doc_id", "text")
    val got = graft.dedup.SpanDedup.excise(docs, "doc_id", "text", w)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: cuts cover "p q r s" (2..5) and "u v w x" (8..11)
    assert(got(0) == (1L, 12L, 4L, md5("z1 z2 z3 z4")), got(0).toString)
    // doc 2: everything duplicated -> empty survivor
    assert(got(1) == (2L, 8L, 0L, md5("")), got(1).toString)
    // doc 3: both 4-gram runs duplicated, "k" between them is NOT
    // part of any duplicated window pair across docs... the k-window
    // bridge windows contain k and are unique to doc 3, so k survives
    assert(got(2) == (3L, 9L, 1L, md5("k")), got(2).toString)
  }

  test("excise conserves tokens against maximalDupSpans' cut geometry") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(col("doc_id") < 300)
    val cuts = graft.dedup.SpanDedup
      .maximalDupSpans(docs, "doc_id", "text", 8)
      .groupBy("doc_id").agg(sum("cut_tokens").as("cut"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ex = graft.dedup.SpanDedup.excise(docs, "doc_id", "text", 8)
      .collect()
    assert(ex.nonEmpty)
    ex.foreach { r =>
      val (id, n, kept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(n - kept == cuts.getOrElse(id, 0L),
        s"doc $id: n=$n kept=$kept cut=${cuts.getOrElse(id, 0L)}")
    }
  }

  private def planOf(name: String): String = {
    GraftSession.tune(spark)
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
  }

  test("dedup_substring_excise joins cut intervals on the doc key, never all-pairs") {
    val p = planOf("dedup_substring_excise")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-keyed join in:\n$p")
  }
}
