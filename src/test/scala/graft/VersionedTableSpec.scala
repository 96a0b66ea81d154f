package graft

import org.apache.spark.sql.functions._
import graft.core.{GateMetrics, GraftSession}
import graft.etl.VersionedTable

/** Delta-style versioned table: commits, time travel, tombstones,
  * merge-on-read, compaction. */
class VersionedTableSpec extends SparkSpecBase {

  private def freshRoot() = GraftSession.scratch("vtspec") + "/tbl"

  private def state(root: String, asOf: Long): Map[Long, Double] =
    VersionedTable.readAsOf(spark, root, Seq("k"), asOf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("init → upsert → delete lifecycle with exact time travel") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root,
      Seq((2L, 20.0), (4L, 4.0)).toDF("k", "v"))
    VersionedTable.commitDelete(spark, root, Seq(1L).toDF("k"))

    assert(state(root, 0L) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    assert(state(root, 1L) == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0))
    assert(state(root, 2L) == Map(2L -> 20.0, 3L -> 3.0, 4L -> 4.0))
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("replaceWhere: one atomic version — range replaced, outside rows untouched") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root,
      Seq((1L, 5.0), (2L, 15.0), (3L, 25.0), (4L, 18.0)).toDF("k", "v"))
    // replace v ∈ [10, 20]: key 2 updated, key 4 dropped, key 9 new
    VersionedTable.commitReplaceWhere(spark, root, Seq("k"), "v",
      10.0, 20.0, Seq((2L, 11.0), (9L, 19.0)).toDF("k", "v"))
    assert(state(root, 1L) ==
      Map(1L -> 5.0, 2L -> 11.0, 3L -> 25.0, 9L -> 19.0))
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L),
      "replace must land as exactly one version")
    // Delta's constraint: replacement rows must satisfy the predicate
    intercept[IllegalArgumentException] {
      VersionedTable.commitReplaceWhere(spark, root, Seq("k"), "v",
        10.0, 20.0, Seq((7L, 99.0)).toDF("k", "v"))
    }
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L),
      "a rejected replacement must not create a version")
  }

  test("manifests are cached once published; invalidateCache forces re-resolution") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((2L, 20.0)).toDF("k", "v"))
    assert(state(root, 1L) == Map(1L -> 1.0, 2L -> 20.0))
    // corrupt the v=1 manifest CONTENT behind the cache: the listing
    // still sees the version (listings stay authoritative), but its
    // parse must be served from cache — proof the content GET is
    // actually skipped, not merely harmless
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$root/_commits/1.manifest")
    val f = p.getFileSystem(conf)
    val out = f.create(p, true)
    try out.write("data/v=1-GARBAGE\nsnapshot=maybe".getBytes("UTF-8"))
    finally out.close()
    assert(state(root, 1L) == Map(1L -> 1.0, 2L -> 20.0))
    // ONE parse serves every view of a manifest: row counts, history,
    // file stats and the pruned read of v=1 answer from the entry the
    // writer cached, not from a second read of the corrupted file
    assert(VersionedTable.rowCountOf(spark, root, 1L) == Some(1L))
    assert(VersionedTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap == Map(0L -> 2L, 1L -> 1L))
    assert(VersionedTable.fileStats(spark, root, 1L)
      .select("column").collect().map(_.getString(0)).toSet == Set("k", "v"))
    val (pruned, kept, total) = VersionedTable.readAsOfRangePruned(
      spark, root, Seq("k"), 1L, "v", 0.0, 100.0)
    assert(kept == total)
    assert(pruned.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.0, 2L -> 20.0))
    // eviction forces re-resolution: the corrupted dir pointer now
    // surfaces (reads resolve to a data dir that does not exist)
    // evict via a DIFFERENT spelling of the same root (qualified URI
    // keying — ADVICE r6: raw-string keys forked the cache per spelling)
    VersionedTable.invalidateCache(spark, f.makeQualified(
      new org.apache.hadoop.fs.Path(root)).toUri.toString)
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    intercept[Exception] { state(root, 1L) }
  }

  test("two identical publishes render equal manifests; any line order still reads") {
    val s = spark
    import s.implicits._
    val df = (1L to 400L).map(i => (i, i * 0.5)).toDF("k", "v")
      .repartition(8, col("v"))
    val roots = Seq(freshRoot(), freshRoot())
    roots.foreach(r => VersionedTable.init(spark, r, df, bloomCols = Seq("k")))
    val conf = spark.sparkContext.hadoopConfiguration
    def path(root: String) = new org.apache.hadoop.fs.Path(s"$root/_commits/0.manifest")
    def lines(root: String): Seq[String] = {
      val in = path(root).getFileSystem(conf).open(path(root))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
      finally in.close()
    }
    // the data dir and its part files carry the write's UUID
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def masked(root: String): Seq[String] = lines(root).map(_.replaceAll(uuid, "<uuid>"))
    assert(masked(roots(0)) == masked(roots(1)))
    val body = lines(roots(0)).drop(2)
    for (section <- Seq[String => Boolean](!_.startsWith("#"), _.startsWith("#rows\t"),
        _.startsWith("#stats\t"), _.startsWith("#bloom\t"))) {
      val part = body.filter(section)
      assert(part.nonEmpty && part == part.sorted, part.mkString("\n"))
    }
    // manifests written before the sort list files in listing order
    // and interleave the metadata: readers parse any line order
    val root = roots(0)
    def views = {
      val (hit, kept, total) = VersionedTable.readAsOfEqPruned(
        spark, root, Seq("k"), 0L, "k", 200L)
      (state(root, 0L), VersionedTable.rowCountOf(spark, root, 0L),
        hit.collect().toSeq, kept, total)
    }
    val sorted = views
    assert(sorted._2 == Some(400L) && sorted._3.size == 1 && sorted._4 < sorted._5)
    val legacy = (lines(root).take(2) ++ body.reverse).mkString("\n")
    val out = path(root).getFileSystem(conf).create(path(root), true)
    try out.write(legacy.getBytes("UTF-8"))
    finally out.close()
    VersionedTable.invalidateCache(spark, root)
    assert(views == sorted)
  }

  test("an uninitialized root fails with a reason that names it") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val batch = Seq((1L, 1.0)).toDF("k", "v")
    def namesRoot(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(root), e.getMessage)
    }
    namesRoot(VersionedTable.readAsOf(spark, root, Seq("k"), 0L))
    namesRoot(VersionedTable.readLatest(spark, root, Seq("k")))
    namesRoot(VersionedTable.commitDelete(spark, root, Seq(1L).toDF("k")))
    namesRoot(VersionedTable.commitReplaceWhere(spark, root, Seq("k"), "v",
      0.0, 2.0, batch))
    namesRoot(VersionedTable.commitUpsertIfNewer(spark, root, batch,
      Seq("k"), "v"))
    namesRoot(VersionedTable.commitScd2(spark, root,
      Seq((1L, "a", 10L)).toDF("k", "attr", "ord"), Seq("k"), Seq("attr"), "ord"))
    assert(VersionedTable.versions(spark, root).isEmpty,
      "a failed commit against an empty root must not create a version")
  }

  test("two writers racing the same version: exactly one wins, loser fails atomically") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // deterministic contention: both writers target version 1 via the
    // internal publish step (the public path would re-list and could
    // serialize into 1 then 2, which is ALSO correct but races nothing)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(
      Future(scala.util.Try(VersionedTable.publish(spark, root,
        Seq((2L, 2.0)).toDF("k", "v").withColumn("__deleted", lit(false)),
        snapshot = false, version = 1L))),
      Future(scala.util.Try(VersionedTable.publish(spark, root,
        Seq((2L, 999.0)).toDF("k", "v").withColumn("__deleted", lit(false)),
        snapshot = false, version = 1L))))
      .map(Await.result(_, 120.seconds))
    val (wins, losses) = attempts.partition(_.isSuccess)
    assert(wins.size == 1, s"exactly one writer must win: $attempts")
    // the scoped MICROS pin must not leak into the session when two
    // publishers overlap (r7 race: B captures A's transient value as
    // "previous" and restores it after A unset) — gate outputs written
    // after a concurrent commit would otherwise flip to timestamptz
    assert(spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      .forall(_ == "INT96"),
      "outputTimestampType leaked from a concurrent publish")
    assert(losses.head.failed.get
      .isInstanceOf[VersionedTable.ConcurrentCommitException])
    // the table holds exactly the winner's rows — no interleaving, and
    // the loser's staged data dir is gone (every dir under data/ is
    // referenced by a manifest)
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    val v2 = state(root, 1L)(2L)
    assert(v2 == 2.0 || v2 == 999.0)
    val orphans = VersionedTable.vacuumOrphans(spark, root, olderThanMs = 0L)
    assert(orphans.isEmpty, s"loser's staging must be cleaned: $orphans")
    // the loser retries on top of the winner (the optimistic-
    // concurrency contract) and lands as version 2
    assert(VersionedTable.commitUpsert(spark, root,
      Seq((2L, 42.0)).toDF("k", "v")) == 2L)
    assert(state(root, 2L)(2L) == 42.0)
  }

  test("commitWithRetry: loser re-reads and lands on top of the winner") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // deterministic two-writer interleave: attempt 1 plays the loser —
    // it targets version 1, which the "other writer" has already
    // claimed and published; the retry goes through the public path,
    // re-lists the table (seeing the winner), and lands at version 2
    VersionedTable.publish(spark, root,
      Seq((2L, 2.0)).toDF("k", "v").withColumn("__deleted", lit(false)),
      snapshot = false, version = 1L) // the winning concurrent writer
    var attempts = 0
    val v = VersionedTable.commitWithRetry(maxAttempts = 3) {
      attempts += 1
      if (attempts == 1)
        VersionedTable.publish(spark, root,
          Seq((3L, 3.0)).toDF("k", "v").withColumn("__deleted", lit(false)),
          snapshot = false, version = 1L) // stale target → loses
      else
        VersionedTable.commitUpsert(spark, root, Seq((3L, 3.0)).toDF("k", "v"))
    }
    assert(attempts == 2 && v == 2L)
    assert(state(root, 2L) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))

    // exhaustion: a thunk that always loses surfaces the exception
    // after exactly maxAttempts tries
    var tries = 0
    val ex = intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commitWithRetry(maxAttempts = 2) {
        tries += 1
        VersionedTable.publish(spark, root,
          Seq((9L, 9.0)).toDF("k", "v").withColumn("__deleted", lit(false)),
          snapshot = false, version = 1L)
      }
    }
    assert(tries == 2 && ex.getMessage.contains("version 1"))
    // the failed attempts left no staging and no table damage
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("a crashed claim burns its version number; readers never see it") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // simulate a writer dying between claim and publish: claim file
    // exists, no v=1 directory
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(s"$root/_commits/1.commit"),
      false).close()
    assert(VersionedTable.versions(spark, root) == Seq(0L))
    // next commit skips the burned number
    assert(VersionedTable.commitUpsert(spark, root,
      Seq((2L, 2.0)).toDF("k", "v")) == 2L)
    assert(state(root, 2L) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("data with no manifest is invisible to readers; vacuum reclaims it") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // simulate a writer that crashed AFTER fully writing its data and
    // claiming, but BEFORE the manifest landed — the exact torn state
    // a non-atomic S3 directory rename used to expose to readers
    Seq((2L, 666.0)).toDF("k", "v").withColumn("__deleted", lit(false))
      .write.parquet(s"$root/data/v=1-torn-writer")
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(s"$root/_commits/1.commit"),
      false).close()
    // readers resolve manifests, never data listings: the torn commit
    // does not exist
    assert(VersionedTable.versions(spark, root) == Seq(0L))
    assert(state(root, 0L) == Map(1L -> 1.0))
    // a young orphan is protected (could be an in-flight writer) …
    assert(VersionedTable.vacuumOrphans(spark, root).isEmpty)
    // … and reclaimed once past the retention horizon
    assert(VersionedTable.vacuumOrphans(spark, root, olderThanMs = 0L)
      == Seq("v=1-torn-writer"))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/data/v=1-torn-writer")))
    // the burned claim still guards the number: next commit lands at 2
    assert(VersionedTable.commitUpsert(spark, root,
      Seq((3L, 3.0)).toDF("k", "v")) == 2L)
    assert(state(root, 2L) == Map(1L -> 1.0, 3L -> 3.0))
  }

  test("re-inserting a deleted key resurrects it") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitDelete(spark, root, Seq(1L).toDF("k"))
    VersionedTable.commitUpsert(spark, root, Seq((1L, 9.0)).toDF("k", "v"))
    assert(state(root, 1L) == Map.empty[Long, Double])
    assert(state(root, 2L) == Map(1L -> 9.0))
  }

  test("compact preserves state, marks a snapshot, and keeps history") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((1L, 10.0)).toDF("k", "v"))
    VersionedTable.commitDelete(spark, root, Seq(2L).toDF("k"))
    val before = state(root, 2L)
    val cv = VersionedTable.compact(spark, root, Seq("k"))
    assert(cv == 3L)
    assert(state(root, 3L) == before)
    // history: v0 and v3 are snapshots; v3 holds exactly the live rows
    val h = VersionedTable.history(spark, root).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq.sorted
    assert(h == Seq((0L, true, 2L), (1L, false, 1L), (2L, false, 1L),
      (3L, true, 1L)))
    // time travel to pre-compaction versions still works
    assert(state(root, 0L) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("history is a zero-job metadata read for #rows-bearing manifests") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    (0 until 9).foreach { i =>
      VersionedTable.commitUpsert(spark, root, Seq((i.toLong, i * 1.0)).toDF("k", "v"))
    }
    // r7: every fresh manifest carries #rows per file, so history
    // resolves entirely from driver-side metadata — ZERO jobs (the
    // pre-r7 shape was one shared count scan; pre-r3, one per
    // version). The scan fallback path is covered by the pre-#rows
    // manifest test in VersionedTableStatsSpec.
    var h: Array[org.apache.spark.sql.Row] = null
    val jobs = GateMetrics.measure(spark) { h = VersionedTable.history(spark, root).collect() }
    assert(h.length == 10)
    assert(jobs.isEmpty, s"history launched ${jobs.size} jobs; expected pure metadata")
  }

  test("reads after a snapshot ignore older commits (pruned lineage)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((2L, 2.0)).toDF("k", "v"))
    VersionedTable.compact(spark, root, Seq("k"))
    // the as-of-2 read must scan only the v=2 snapshot directory
    val files = VersionedTable.readAsOf(spark, root, Seq("k"), 2L).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("v=2")))
  }

  test("readChangesBetween emits the CDC-out feed for a version range") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((2L, 2.0)).toDF("k", "v"))
    VersionedTable.commitDelete(spark, root, Seq(1L).toDF("k"))
    val ch = VersionedTable.readChangesBetween(spark, root, 0L, 2L)
      .select("k", "__commit", "__op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ch == Set((2L, 1L, "U"), (1L, 2L, "D")))
    // only the requested version dirs are opened
    val files = VersionedTable.readChangesBetween(spark, root, 0L, 2L).inputFiles
    assert(files.forall(f => f.contains("v=1") || f.contains("v=2")))
  }

  test("readChangesBetween skips compaction snapshots (no spurious updates)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((2L, 2.0)).toDF("k", "v")) // v1
    VersionedTable.compact(spark, root, Seq("k"))                           // v2
    VersionedTable.commitUpsert(spark, root, Seq((3L, 3.0)).toDF("k", "v")) // v3
    val ch = VersionedTable.readChangesBetween(spark, root, 0L, 3L)
      .select("k", "__commit", "__op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // only real deltas: v1's upsert and v3's — the v2 compaction
    // rewrote unchanged rows and must emit nothing
    assert(ch == Set((2L, 1L, "U"), (3L, 3L, "U")))
  }

  test("schema evolution: later commits add columns, earlier rows read null") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root,
      Seq((2L, 2.0, "en")).toDF("k", "v", "lang"))
    val rows = VersionedTable.readLatest(spark, root, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq((1L, 1.0, None), (2L, 2.0, Some("en"))))
  }

  test("CDF rejects a hand-built commit holding a key both deleted and live") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    // forge a malformed delta via the internal publish path: key 1 is
    // BOTH tombstoned and upserted in the same commit — impossible via
    // commitUpsert/commitDelete, contradictory for any CDC replay
    VersionedTable.publish(spark, root,
      Seq((1L, 99.0, false), (1L, 0.0, true), (3L, 3.0, false))
        .toDF("k", "v", "__deleted"),
      snapshot = false, version = 1L)
    val feed = VersionedTable.readChangesWithImages(
      spark, root, Seq("k"), fromV = 0L, toV = 1L)
    val e = intercept[Exception] { feed.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("malformed commit")),
      s"unexpected failure: $e")
    // well-formed commits on the same table still read fine
    VersionedTable.commitUpsert(spark, root, Seq((4L, 4.0)).toDF("k", "v"))
    val ok = VersionedTable.readChangesWithImages(
      spark, root, Seq("k"), fromV = 1L, toV = 2L)
    assert(ok.where(col("__op") === "I").count() == 1)
  }

  test("expire removes pre-snapshot versions; state and deltas survive") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((1L, 10.0)).toDF("k", "v"))
    VersionedTable.compact(spark, root, Seq("k"))                     // v2 snapshot
    VersionedTable.commitUpsert(spark, root, Seq((3L, 3.0)).toDF("k", "v"))
    val before = state(root, 3L)
    val removed = VersionedTable.expire(spark, root, keepFrom = 3L)
    assert(removed == Seq(0L, 1L))
    assert(VersionedTable.versions(spark, root) == Seq(2L, 3L))
    assert(state(root, 3L) == before)
    // deletes still work after v=0 is gone (schema from newest commit)
    VersionedTable.commitDelete(spark, root, Seq(2L).toDF("k"))
    assert(state(root, 4L) == Map(1L -> 10.0, 3L -> 3.0))
  }

  test("compactIfNeeded fires only past the chain budget and preserves state") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))    // v0 snap
    // chain after init = 1; two upserts keep it within budget 3
    (1 to 2).foreach { i =>
      VersionedTable.commitUpsert(spark, root, Seq((i + 1L, 1.0)).toDF("k", "v"))
      assert(VersionedTable.compactIfNeeded(spark, root, Seq("k"), 3).isEmpty)
    }
    // third upsert → chain 4 → must compact (v4, snapshot)
    VersionedTable.commitUpsert(spark, root, Seq((4L, 1.0)).toDF("k", "v"))
    assert(VersionedTable.compactIfNeeded(spark, root, Seq("k"), 3)
      .contains(4L))
    // next call is a no-op again (fresh chain = 1)
    assert(VersionedTable.compactIfNeeded(spark, root, Seq("k"), 3).isEmpty)
    assert(state(root, 4L) ==
      Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
  }

  test("commitSync lands update+insert+delete in ONE atomic version") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    // source: key 2 updated, key 4 fresh, keys 1/3 absent → deleted
    VersionedTable.commitSync(spark, root,
      Seq((2L, 20.0), (4L, 4.0)).toDF("k", "v"), Seq("k"))
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    assert(state(root, 1L) == Map(2L -> 20.0, 4L -> 4.0))
    // pre-sync state is still time-travelable
    assert(state(root, 0L) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // syncing to the same source again is a harmless no-op state-wise
    VersionedTable.commitSync(spark, root,
      Seq((2L, 20.0), (4L, 4.0)).toDF("k", "v"), Seq("k"))
    assert(state(root, 2L) == Map(2L -> 20.0, 4L -> 4.0))
  }

  test("strict commit rejects schema drift; plain commit evolves explicitly") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // matching schema commits fine (missing columns would too)
    VersionedTable.commitUpsertStrict(spark, root,
      Seq((2L, 2.0)).toDF("k", "v"), Seq("k"))
    // a drifted producer column is rejected, table untouched
    val widened = Seq((3L, 3.0, "oops")).toDF("k", "v", "tag")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitUpsertStrict(spark, root, widened, Seq("k"))
    }
    assert(e.getMessage.contains("tag"))
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    // the explicit evolution path still works
    VersionedTable.commitUpsert(spark, root, widened)
    assert(VersionedTable.readLatest(spark, root, Seq("k"))
      .columns.contains("tag"))
  }

  test("tags name versions durably; reads follow the tag, not the head") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root, Seq((1L, 2.0)).toDF("k", "v"))
    VersionedTable.tagVersion(spark, root, "release", 1L)
    VersionedTable.commitUpsert(spark, root, Seq((1L, 3.0)).toDF("k", "v"))
    assert(VersionedTable.tags(spark, root) == Map("release" -> 1L))
    assert(VersionedTable.readAsOfTag(spark, root, Seq("k"), "release")
      .head().getDouble(1) == 2.0)
    // re-tagging moves the name; unknown tags and uncommitted versions fail
    VersionedTable.tagVersion(spark, root, "release", 2L)
    assert(VersionedTable.readAsOfTag(spark, root, Seq("k"), "release")
      .head().getDouble(1) == 3.0)
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOfTag(spark, root, Seq("k"), "nope")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tagVersion(spark, root, "bad", 99L)
    }
  }

  test("restore rolls the head back without erasing history") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedTable.init(spark, root,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    VersionedTable.commitUpsert(spark, root,
      Seq((2L, 666.0), (4L, 666.0)).toDF("k", "v"))                   // bad batch
    VersionedTable.commitDelete(spark, root, Seq(1L).toDF("k"))       // bad delete
    VersionedTable.restore(spark, root, Seq("k"), 0L)                 // v3 = v0

    // the restored head equals the original state exactly
    assert(state(root, 3L) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    assert(VersionedTable.readLatest(spark, root, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // history is preserved: the bad versions stay time-travelable
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L, 3L))
    assert(state(root, 2L) == Map(2L -> 666.0, 3L -> 3.0, 4L -> 666.0))
    // the restore is a snapshot commit: CDC replay over the full
    // history emits v1/v2's changes but NOTHING for v3 (same contract
    // as compaction — a rewrite is not a change)
    val feed = VersionedTable.readChangesBetween(spark, root, 0L, 3L)
    assert(feed.agg(max(col("__commit"))).head().getLong(0) == 2L)
    // and new commits continue from the restored state
    VersionedTable.commitUpsert(spark, root, Seq((5L, 5.0)).toDF("k", "v"))
    assert(state(root, 4L) ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 5L -> 5.0))
  }
}
