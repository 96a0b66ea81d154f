package graft

/** The shared feed-base fixture (r17) must not leak state between
  * gates: every gate drains a PRIVATE hardlink clone, so repeated
  * invocations — and gates sharing one base — see identical feed
  * content with fresh checkpoints, versions and quarantines. The gate
  * outputs themselves pin the epoch/version/quarantine counts
  * (n_versions, n_quarantined, n_replayed are literal columns checked
  * by the oracle), so identical outputs across repeated runs prove the
  * drain structure is unchanged by the sharing. */
class StreamFixtureSpec extends SparkSpecBase {

  test("t9/t10 rerun identically on cloned feeds (no cross-gate state)") {
    val a1 = SparkEntry.queries("t9_stream_audited")(spark, sfDir)
      .collect().toSeq
    val a2 = SparkEntry.queries("t9_stream_audited")(spark, sfDir)
      .collect().toSeq
    assert(a1 == a2, s"t9 drifted across reruns: $a1 vs $a2")
    // version/quarantine contract intact on the shared base
    val r = a1.head
    assert(r.getLong(r.fieldIndex("n_versions")) == 2L)
    assert(r.getLong(r.fieldIndex("n_quarantined")) == 50L)
    val b1 = SparkEntry.queries("t10_quarantine_replay")(spark, sfDir)
      .collect().toSeq
    val b2 = SparkEntry.queries("t10_quarantine_replay")(spark, sfDir)
      .collect().toSeq
    assert(b1 == b2, s"t10 drifted across reruns: $b1 vs $b2")
    val q = b1.head
    assert(q.getLong(q.fieldIndex("n_quarantined")) == 0L)
    assert(q.getLong(q.fieldIndex("n_replayed")) == 1L)
  }

  test("t12's two drains see exactly the two halves (epochs unchanged)") {
    val out = SparkEntry.queries("t12_stream_mv")(spark, sfDir)
    val total = out.collect().map(_.getLong(1)).sum
    val expected = graft.core.Tables.events(spark, sfDir).count()
    assert(total == expected,
      s"MV rows $total != events $expected — a drain missed a half")
  }
}
