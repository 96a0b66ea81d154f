package graft

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.etl.VersionedTable

/** Per-file footer stats in the manifest + data-skipping reads
  * (readAsOfRange): pruning must actually skip base files on a
  * range-clustered layout, and must stay CORRECT under merge-on-read
  * shadowing — deltas are never skipped, so updates into the range and
  * tombstones over it land even when their keys' base copies were
  * pruned away. */
class VersionedTableStatsSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String =
    GraftSession.scratch(tag) + "/tbl"

  private def ev = Tables.events(spark, sfDir)
    .select(col("event_id"), col("ts"), col("value"))

  test("range read skips base files and matches unpruned + filter") {
    val root = freshRoot("vtstats1")
    // range-clustered on value → disjoint per-file [min,max] boxes
    VersionedTable.init(spark, root,
      ev.repartitionByRange(8, col("value")))
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "value", 10.0, 20.0)
    assert(total == 8, s"expected 8 base files, saw $total")
    assert(kept < total, s"no files skipped (kept=$kept of $total)")
    val expect = VersionedTable.readAsOf(spark, root, Seq("event_id"), 0L)
      .where(col("value").between(10.0, 20.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val got = pruned.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("deltas are never pruned: upsert-into-range and delete-in-range land") {
    val root = freshRoot("vtstats2")
    VersionedTable.init(spark, root,
      ev.repartitionByRange(8, col("value")))
    val all = ev.select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val outOfRange = all.collectFirst {
      case (id, v) if v > 40.0 => id }.get
    val inRange = all.collectFirst {
      case (id, v) if v >= 10.0 && v <= 20.0 => id }.get
    // v1: move an out-of-range key INTO [10,20]; v2: delete an in-range key
    VersionedTable.commitUpsert(spark, root,
      ev.where(col("event_id") === outOfRange).withColumn("value", lit(15.0)))
    VersionedTable.commitDelete(spark, root,
      spark.range(1).select(lit(inRange).as("event_id")))
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 2L, "value", 10.0, 20.0)
    assert(kept < total)
    val got = pruned.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(outOfRange), "updated-into-range key missing")
    assert(!got.contains(inRange), "deleted key resurfaced")
    val expect = VersionedTable.readAsOf(spark, root, Seq("event_id"), 2L)
      .where(col("value").between(10.0, 20.0))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("timestamp column prunes with Timestamp bounds") {
    val root = freshRoot("vtstats3")
    VersionedTable.init(spark, root,
      ev.repartitionByRange(8, col("ts")))
    val bounds = ev.agg(min("ts"), max("ts")).head()
    val lo = bounds.getTimestamp(0)
    val hi = new java.sql.Timestamp(lo.getTime + 3600L * 1000)
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "ts", lo, hi)
    assert(kept < total, s"no ts files skipped (kept=$kept of $total)")
    val expect = VersionedTable.readAsOf(spark, root, Seq("event_id"), 0L)
      .where(col("ts").between(lit(lo), lit(hi)))
      .count()
    assert(pruned.count() == expect)
  }

  test("string column prunes lexicographically") {
    val root = freshRoot("vtstats4")
    val docs = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("lang"), col("source"))
    VersionedTable.init(spark, root, docs.repartitionByRange(4, col("lang")))
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("doc_id"), 0L, "lang", "de", "de")
    assert(kept < total)
    val expect = docs.where(col("lang") === "de").count()
    assert(pruned.count() == expect)
  }

  test("empty intersection reads zero base files, returns empty") {
    val root = freshRoot("vtstats5")
    VersionedTable.init(spark, root,
      ev.repartitionByRange(4, col("value")))
    val (pruned, kept, _) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "value", 1.0e9, 2.0e9)
    assert(kept == 0)
    assert(pruned.count() == 0)
  }

  test("pre-stats manifests (no #stats lines) keep every file") {
    val root = freshRoot("vtstats6")
    VersionedTable.init(spark, root,
      ev.repartitionByRange(4, col("value")))
    // strip the stats lines, simulating a manifest written before
    // footer stats existed — pruning must fall back to reading all
    val mf = new java.io.File(s"$root/_commits/0.manifest")
    val stripped = scala.io.Source.fromFile(mf, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).mkString("\n")
    val w = new java.io.PrintWriter(mf, "UTF-8")
    try w.print(stripped) finally w.close()
    // the local FS keeps a checksum sidecar; stale after the rewrite
    new java.io.File(s"$root/_commits/.0.manifest.crc").delete()
    VersionedTable.invalidateCache(spark, root)
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "value", 10.0, 20.0)
    assert(kept == total, "missing stats must keep every file")
    val expect = ev.where(col("value").between(10.0, 20.0)).count()
    assert(pruned.count() == expect)
    // and history falls back to the shared count scan for this version
    assert(VersionedTable.rowCountOf(spark, root, 0L).isEmpty)
    val h = VersionedTable.history(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(h(0L) == ev.count())
  }

  test("bloom index prunes point lookups on an unsorted layout; stats alone cannot") {
    val rootNoBloom = freshRoot("vtbloom0")
    val rootBloom = freshRoot("vtbloom1")
    // repartition by VALUE → event_ids spread across every file, so
    // per-file [min,max] on event_id spans the key space
    val scattered = ev.repartition(8, col("value"))
    VersionedTable.init(spark, rootNoBloom, scattered)
    VersionedTable.init(spark, rootBloom, scattered, bloomCols = Seq("event_id"))
    // a MID-RANGE key: the global min/max ids would let [min,max]
    // stats prune by accident even on this scattered layout
    val allIds = ev.select("event_id").collect().map(_.getLong(0)).sorted
    val key = allIds(allIds.length / 2)
    val (_, keptStats, totalStats) = VersionedTable.readAsOfEqPruned(
      spark, rootNoBloom, Seq("event_id"), 0L, "event_id", key)
    assert(keptStats == totalStats,
      s"min/max alone should keep everything here (kept=$keptStats)")
    val (hit, keptBloom, totalBloom) = VersionedTable.readAsOfEqPruned(
      spark, rootBloom, Seq("event_id"), 0L, "event_id", key)
    assert(keptBloom < totalBloom,
      s"bloom pruned nothing (kept=$keptBloom of $totalBloom)")
    assert(hit.count() == 1)
    assert(hit.select("event_id").head().getLong(0) == key)
  }

  test("bloom lookup of an absent key reads zero or near-zero files, returns empty") {
    val root = freshRoot("vtbloom2")
    VersionedTable.init(spark, root,
      ev.repartition(8, col("value")), bloomCols = Seq("event_id"))
    val (res, kept, total) = VersionedTable.readAsOfEqPruned(
      spark, root, Seq("event_id"), 0L, "event_id", -987654321L)
    assert(kept < total, "bloom should exclude nearly every file")
    assert(res.count() == 0)
  }

  test("bloom point lookup stays correct under delta shadowing") {
    val root = freshRoot("vtbloom3")
    VersionedTable.init(spark, root,
      ev.repartition(8, col("value")), bloomCols = Seq("event_id"))
    val ids = ev.select("event_id").limit(2).collect().map(_.getLong(0))
    val (updated, deleted) = (ids(0), ids(1))
    VersionedTable.commitUpsert(spark, root,
      ev.where(col("event_id") === updated).withColumn("value", lit(42.5)))
    VersionedTable.commitDelete(spark, root,
      spark.range(1).select(lit(deleted).as("event_id")))
    val upd = VersionedTable.readAsOfEq(
      spark, root, Seq("event_id"), 2L, "event_id", updated)
    assert(upd.select("value").head().getDouble(0) == 42.5)
    val del = VersionedTable.readAsOfEq(
      spark, root, Seq("event_id"), 2L, "event_id", deleted)
    assert(del.count() == 0, "deleted key resurfaced in point lookup")
  }

  test("manifest #rows metadata makes history a zero-job metadata read") {
    val root = freshRoot("vtrows")
    VersionedTable.init(spark, root, ev.repartitionByRange(4, col("value")))
    VersionedTable.commitUpsert(spark, root,
      ev.limit(10).withColumn("value", lit(1.0)))
    (0L to 1L).foreach { v =>
      assert(VersionedTable.rowCountOf(spark, root, v).isDefined,
        s"fresh write v=$v missing #rows metadata")
    }
    val total = ev.count()
    val h = VersionedTable.history(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(h(0L) == total)
    assert(h(1L) == 10L)
  }

  test("NaN/Infinity double stats don't crash publish; reads stay correct") {
    // parquet-mr's min/max fold propagates NaN, and BigDecimal("NaN")
    // throws — an unguarded publish would crash AFTER the claim landed,
    // stranding a claimed-but-unpublished version (r7 advice, medium)
    val root = freshRoot("vtnan")
    val withNan = ev.withColumn("value",
      when(col("event_id") % 10 === 0, lit(Double.NaN))
        .when(col("event_id") % 10 === 1, lit(Double.PositiveInfinity))
        .otherwise(col("value")))
    VersionedTable.init(spark, root,
      withNan.repartitionByRange(4, col("event_id")))
    // every file holds a NaN → value stats omitted → no pruning on it,
    // which is the safe direction; event_id stats are intact and prune
    val (prunedV, keptV, totalV) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "value", 10.0, 20.0)
    assert(keptV == totalV, "NaN-poisoned column must never prune")
    val expectV = withNan.where(col("value").between(10.0, 20.0)).count()
    assert(prunedV.count() == expectV)
    val ids = ev.select("event_id").collect().map(_.getLong(0)).sorted
    val (_, keptId, totalId) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "event_id",
      ids.head, ids(ids.length / 8))
    assert(keptId < totalId, "clean event_id column should still prune")
  }

  test("bloom probe coerces to the column's declared type (Int column, Long key)") {
    // the Bloom hashes native values of the COLUMN type; XxHash64
    // hashes Int and Long differently, so an uncoerced Long probe of
    // an IntegerType column would be a guaranteed miss → silently
    // empty result (r7 advice, medium)
    val root = freshRoot("vtcoerce")
    val docs = ev.withColumn("event_id", col("event_id").cast("int"))
    VersionedTable.init(spark, root,
      docs.repartition(8, col("value")), bloomCols = Seq("event_id"))
    val key = docs.select("event_id").head().getInt(0)
    // probe the Int column with a LONG value — must coerce, not miss
    val hitL = VersionedTable.readAsOfEq(
      spark, root, Seq("event_id"), 0L, "event_id", key.toLong)
    assert(hitL.count() == 1, "Long probe of Int column must coerce")
    // and an INT probe of a Long column on the standard layout
    val root2 = freshRoot("vtcoerce2")
    VersionedTable.init(spark, root2,
      ev.repartition(8, col("value")), bloomCols = Seq("event_id"))
    val key2 = ev.select("event_id").head().getLong(0)
    val hitI = VersionedTable.readAsOfEq(
      spark, root2, Seq("event_id"), 0L, "event_id", key2.toInt)
    assert(hitI.count() == 1, "Int probe of Long column must coerce")
  }

  test("many-file commit: bloom bytes bounded by the per-commit budget") {
    // 32 files × 1 column under a 4 KB budget → the ideal sizing must
    // SHRINK to fit; point lookups stay correct (weaker pruning only)
    // (the budget reaches publish directly; init always passes the
    // 64 MB MaxBloomBytesPerCommit)
    def initCapped(root: String, budget: Long): Long =
      VersionedTable.publish(spark, root,
        ev.repartition(32, col("value")).withColumn("__deleted", lit(false)),
        snapshot = true, version = 0L, bloomCols = Seq("event_id"),
        bloomBudget = budget)
    val root = freshRoot("vtbloomcap")
    initCapped(root, 4 * 1024)
    val manifest = scala.io.Source.fromFile(
      s"$root/_commits/0.manifest", "UTF-8").getLines().toSeq
    val bloomLines = manifest.filter(_.startsWith("#bloom\t"))
    assert(bloomLines.nonEmpty, "capped commit must still carry blooms")
    val bloomBytes = bloomLines.map(l =>
      java.util.Base64.getDecoder.decode(l.split("\t", -1)(3)).length.toLong).sum
    // b64-decoded sketch payload obeys the budget (+ small codec
    // framing per sketch)
    assert(bloomBytes <= 4 * 1024 + 32 * 64,
      s"bloom payload $bloomBytes exceeds the 4 KB budget")
    val k = ev.select("event_id").head().getLong(0)
    val hit = VersionedTable.readAsOfEq(
      spark, root, Seq("event_id"), 0L, "event_id", k)
    assert(hit.count() == 1, "capped bloom must stay correct")
    // and a budget too small for even the floor omits the index
    val root2 = freshRoot("vtbloomcap2")
    initCapped(root2, 64) // 64 bytes across 32 files → below floor
    val manifest2 = scala.io.Source.fromFile(
      s"$root2/_commits/0.manifest", "UTF-8").getLines().toSeq
    assert(!manifest2.exists(_.startsWith("#bloom\t")),
      "sub-floor budget must omit the bloom index entirely")
    val hit2 = VersionedTable.readAsOfEq(
      spark, root2, Seq("event_id"), 0L, "event_id", k)
    assert(hit2.count() == 1, "bloom-less table must still read correctly")
  }

  test("compactClustered re-layout makes both z-order dimensions prunable") {
    val root = freshRoot("vtcz")
    val evu = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    VersionedTable.init(spark, root, evu.repartition(8, col("value")))
    // scattered: a user_id range cannot prune
    val (_, kept0, total0) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 0L, "user_id", 10L, 20L)
    assert(kept0 == total0, "hash layout should be unprunable")
    VersionedTable.compactClustered(spark, root, Seq("event_id"),
      Seq("user_id", "event_id"), nFiles = 8)
    val (pruned, kept1, total1) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 1L, "user_id", 10L, 20L)
    assert(kept1 < total1, s"z-order did not tighten file boxes ($kept1/$total1)")
    val expect = evu.where(col("user_id").between(10L, 20L)).count()
    assert(pruned.count() == expect)
    // second dimension prunes too (narrow event_id range)
    val ids = evu.select("event_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val (_, kept2, total2) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("event_id"), 1L, "event_id", mid, mid + 10)
    assert(kept2 < total2, s"event_id range unpruned ($kept2/$total2)")
  }

  test("readAsOfColumns prunes the scan; a select after readAsOf cannot") {
    val root = freshRoot("vtstats-prune")
    VersionedTable.init(spark, root, ev)                              // 3 cols
    VersionedTable.commitUpsert(spark, root,
      ev.where(col("event_id") % 9 === 0)
        .withColumn("value", col("value") * 2))
    def readSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("ReadSchema"))
        .map(_.split("ReadSchema: ", 2)(1)).toSeq
    // the documented limitation: post-merge select still scans value+ts
    // (the dedupe aggregate's ordering struct carries every column)
    val wide = readSchemas(
      VersionedTable.readAsOf(spark, root, Seq("event_id"), 1L)
        .select("event_id"))
    assert(wide.nonEmpty && wide.forall(_.contains("value")),
      s"expected the unprojected read to carry value:\n$wide")
    // the pruning lever: project-before-merge drops ts from every scan
    val narrow = readSchemas(VersionedTable.readAsOfColumns(
      spark, root, Seq("event_id"), 1L, Seq("value")))
    assert(narrow.nonEmpty && narrow.forall(s =>
      !s.contains("ts:") && s.contains("value")),
      s"projected read still scans ts:\n$narrow")
    // and the answers agree on the shared columns
    val a = VersionedTable.readAsOf(spark, root, Seq("event_id"), 1L)
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = VersionedTable.readAsOfColumns(
        spark, root, Seq("event_id"), 1L, Seq("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("seeded sweep: pruned and projected reads agree with readAsOf at every version") {
    // one chain through every commit kind — snapshot with blooms,
    // upsert, delete, a column-adding upsert, a clustered compaction,
    // then more deltas — and at each version the range, point and
    // projected readers must equal readAsOf plus the same predicate or
    // select (the schema-evolved versions included)
    val rnd = new scala.util.Random(20261019L)
    val root = freshRoot("vtsweep")
    val keyCols = Seq("event_id")
    val byValue = ev.select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._2)
    val (lo, hi) = (byValue(byValue.length / 3)._2, byValue(byValue.length / 2)._2)
    def pickWhere(p: Double => Boolean, not: Set[Long]): Long = {
      val c = byValue.filter { case (id, v) => p(v) && !not(id) }
      c(rnd.nextInt(c.length))._1
    }
    val updated = pickWhere(_ > hi, Set.empty)
    val deleted = pickWhere(v => v >= lo && v <= hi, Set.empty)
    val present = pickWhere(v => v >= lo && v <= hi, Set(deleted))
    val deleted2 = pickWhere(v => v >= lo && v <= hi, Set(deleted, present))
    val tagged = Seq(present, updated) ++
      Seq.fill(3)(byValue(rnd.nextInt(byValue.length))._1)
    val absent = -1L

    VersionedTable.init(spark, root,
      ev.repartitionByRange(4, col("value")), bloomCols = keyCols)      // v0
    VersionedTable.commitUpsert(spark, root, ev                         // v1
      .where(col("event_id") === updated).withColumn("value", lit((lo + hi) / 2)))
    VersionedTable.commitDelete(spark, root,                            // v2
      spark.range(1).select(lit(deleted).as("event_id")))
    VersionedTable.commitUpsert(spark, root, ev                         // v3
      .where(col("event_id").isin(tagged: _*))
      .withColumn("tag", concat(lit("t"), col("event_id").cast("string"))))
    VersionedTable.compactClustered(spark, root, keyCols,               // v4
      Seq("value"), nFiles = 4, bloomCols = keyCols)
    VersionedTable.commitUpsert(spark, root, ev                         // v5
      .where(col("event_id") === updated).withColumn("value", lit(lo)))
    VersionedTable.commitDelete(spark, root,                            // v6
      spark.range(1).select(lit(deleted2).as("event_id")))
    assert(VersionedTable.versions(spark, root) == (0L to 6L))

    def bag(rows: Seq[Seq[Any]]) = rows.groupBy(identity).map { case (r, rs) => r -> rs.size }
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq)
    (0L to 6L).foreach { v =>
      val full = VersionedTable.readAsOf(spark, root, keyCols, v)
      val cols = full.columns.toSeq
      assert(cols.contains("tag") == (v >= 3), s"v=$v columns $cols")
      val all = rowsOf(full)
      val idAt = cols.indexOf("event_id")

      val (range, keptR, totalR) = VersionedTable.readAsOfRangePruned(
        spark, root, keyCols, v, "value", lo, hi)
      assert(range.columns.toSeq == cols, s"v=$v range columns")
      assert(bag(rowsOf(range)) ==
        bag(rowsOf(full.where(col("value").between(lo, hi)))), s"v=$v range")
      assert(keptR < totalR, s"v=$v range pruned nothing ($keptR/$totalR)")

      Seq(present, updated, deleted, absent).foreach { k =>
        val (eq, keptE, totalE) = VersionedTable.readAsOfEqPruned(
          spark, root, keyCols, v, "event_id", k)
        assert(eq.columns.toSeq == cols, s"v=$v key $k columns")
        assert(bag(rowsOf(eq)) == bag(all.filter(_(idAt) == k)), s"v=$v key $k")
        assert(keptE < totalE, s"v=$v key $k pruned nothing ($keptE/$totalE)")
      }

      val wanted = Seq("value") ++ (if (v >= 3) Seq("tag") else Nil)
      val projected = VersionedTable.readAsOfColumns(spark, root, keyCols, v, wanted)
      val keep = keyCols ++ wanted
      assert(projected.columns.toSeq == keep, s"v=$v projected columns")
      assert(bag(rowsOf(projected)) ==
        bag(all.map(r => keep.map(c => r(cols.indexOf(c))))), s"v=$v projected")
    }
  }
}
