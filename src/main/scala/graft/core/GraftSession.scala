package graft.core

import org.apache.spark.sql.SparkSession

/** Standard session configuration for the engine.
  *
  * Mirrors the reference's session tuning (SURVEY.md §4,
  * `artifacts/spark_programs/spark_submit_tb_call_req_parquet.py:83-96`)
  * translated to modern Spark:
  *  - dynamic partition overwrite (the reference's
  *    `hive.exec.dynamic.partition.mode=nonstrict`)
  *  - 512 MB target input splits → `files.maxPartitionBytes`
  *  - non-ANSI evaluation: the reference's UDFs return null on parse
  *    failure (`spark_submit_tb_table1_parquet.py:107-113`); Spark 4
  *    defaults ANSI on, which would raise instead.
  *  - AQE on: runtime shuffle coalescing + skew-join splitting stand in
  *    for hand-tuned partition counts at 100 TB.
  *  - artifact isolation off: Spark 4 gives every isolated session (each
  *    `newSession()`, each stream's cloned session) its own executor
  *    classloader, which the executor's isolated-session cache keeps
  *    pinned, together with every class generated for that session,
  *    for up to 30 idle minutes. The codegen cache is keyed by
  *    (classloader, code) and holds 100 entries, so each derived
  *    session compiled its generated classes again and evicted the
  *    caller's (on a 4-core VM, 38-58 generated-class loads per timed
  *    `ingest` benchmark pass, against 0 with isolation off). The
  *    engine adds no session artifacts (no `addArtifact`, `addJar` or
  *    `addFile`), so with isolation off
  *    the caller's session, every [[child]] session, every stream and
  *    Verify's per-gate sessions run their tasks on the executor's one
  *    default classloader and share compiled code and its JIT warm-up.
  *    Spark reads the conf once per session, at its first SQL
  *    execution, so [[tune]] must run before any SQL on a session.
  */
object GraftSession {

  /** Apply engine defaults to an existing session (used when the driver
    * owns the builder, e.g. Verify/Bench). */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.parquet.compression.codec", "snappy")
    // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read as long and convert (Tables.events).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NOTE: spark.sql.parquet.outputTimestampType deliberately stays
    // at the INT96 default. MICROS output carries isAdjustedToUTC=true,
    // which DuckDB/pandas read as timestamptz — breaking the driver's
    // naive-timestamp oracle hash compares on every gate that writes a
    // timestamp. VersionedTable pins MICROS around its OWN data writes
    // only (it needs footer min/max stats, which INT96 lacks), via a
    // reference-counted scoped pin that is leak-free under concurrent
    // publishers.
    // InferFiltersFromGenerate adds `size(arr) > 0` before explode();
    // filter pushdown then inlines the full array expression into the
    // filter, so expensive per-row arrays (shingling: tokenize +
    // n-gram + distinct) are computed TWICE per row. Measured on
    // curate_decontam at sf0.1: 7.7s → 1.2s with the rule excluded.
    // Our exploded arrays are never empty (cheap token-count guards),
    // so the pruning the rule exists for has nothing to prune.
    c.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // one executor classloader for every session (see the object doc)
    c.set("spark.sql.artifact.isolation.enabled", "false")
    spark
  }

  /** A derived session with extra SQL confs, for frames whose
    * EXECUTION needs a non-default conf (e.g. the WITH RECURSIVE
    * total-row valve: `spark.sql.cteRecursionRowLimit` defaults to 1M
    * rows summed across all iterations — a data-volume cap that a
    * provably-bounded recursion outgrows at sf1). Set/unset around
    * plan construction would NOT work: Spark reads these confs when
    * the query RUNS (possibly much later, when the caller writes the
    * frame), so the override must live on the session the frame is
    * bound to. Scoping it here keeps the valve — and every other
    * override — at its default for all other queries in the session,
    * instead of disabling a safety limit session-wide. */
  def confScoped(spark: SparkSession, confs: (String, String)*)
                (f: SparkSession => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s2 = child(spark)
    confs.foreach { case (k, v) => s2.conf.set(k, v) }
    f(s2)
  }

  /** A child session with its parent's runtime confs and the engine
    * tuning. `newSession`'s SQLConf starts from the SparkContext conf,
    * not the parent's `conf.set` values, so those are copied over: the
    * child then differs from its parent only by its caller's overrides,
    * which also lets it share the parent's `Tables` schema memo (keyed
    * on the session confs). */
  private def child(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    val own = s2.conf.getAll
    spark.conf.getAll.foreach { case (k, v) =>
      if (!own.get(k).contains(v)) s2.conf.set(k, v)
    }
    tune(s2)
  }

  def build(appName: String = "graft", master: String = "local[*]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", 512L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
  }

  /** Build and run a streaming query under an explicit, QUERY-SCOPED
    * state-partition count.
    *
    * `spark.sql.shuffle.partitions` at stream START fixes the number
    * of state-store instances for the query's lifetime, and every
    * instance pays per-micro-batch checkpoint/commit overhead whether
    * or not it holds state. That cost is ∝ partitions × batches and
    * independent of data volume, so state parallelism must be sized
    * to the STREAM's volume, not inherited from the batch session
    * default (the streaming analog of sizing Kafka partitions or
    * Flink operator parallelism). Measured (a since-deleted dev main,
    * see git history; sf0.1 ≈ 100k events): the stream-stream
    * interval join runs 14.2 s with 32 state partitions vs 4.2 s with
    * 8 — the join work itself is negligible; 32×4 state stores ×
    * per-batch commits was the entire difference. A high-volume
    * production stream sizes UP the same knob.
    *
    * `f` receives an ISOLATED session (same SparkContext and cache,
    * own SQLConf/catalog via `newSession()`) with the partition count
    * applied, and must build its stream from that session. The r4
    * version mutated the parent session's conf around `f` and
    * restored it, which races when two streams start concurrently on
    * one session (library reality at 100 TB — a shared session runs
    * many streams); an isolated child session makes the width a
    * per-query property. ConcurrentStreamsSpec pins two concurrent
    * streams at different widths. */
  def stateScoped[T](spark: SparkSession, n: Int)(f: SparkSession => T): T = {
    val scoped = child(spark)
    scoped.conf.set("spark.sql.shuffle.partitions", n.toString)
    f(scoped)
  }

  /** Per-run scratch dir for sink round-trip operators (S1-S4/S7, W1-W4).
    * Lives under java.io.tmpdir like Spark's own block/staging dirs.
    *
    * Reclaimed RECURSIVELY at JVM exit: `File.deleteOnExit` silently
    * skips non-empty directories, so every populated scratch dir
    * leaked permanently — a round-11 sf1 bench died mid-run after the
    * session's accumulated runs left ~25 GB / 9,700 orphan graft-*
    * dirs in /tmp. One shutdown hook sweeps everything this JVM
    * created (mirrors Spark's own ShutdownHookManager handling of its
    * blockmgr/spark-* dirs). */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  /** Delete `f` and everything under it; a missing `f` is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmTree)
    f.delete(): Unit
  }
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { p =>
        try rmTree(p.toFile) catch { case _: Throwable => () }
      }
    }))
  def scratch(tag: String): String = {
    scratchHook
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    scratchDirs.add(d)
    d.toString
  }

  /** Build-once scratch fixtures: `build` runs once per `key` per JVM,
    * in a fresh [[scratch]] dir that it owns, and every later caller of
    * that key gets its memoized result. Callers of one key wait for
    * that key's single build; callers of different keys never wait on
    * each other, and a build may call `shared` on another key (the
    * triangle stream is built from the co-edge fixture). A build that
    * throws deletes its dir, memoizes nothing and is retried by the
    * next caller. The key fixes `T`: every caller of a key must ask for
    * the same type. */
  def shared[T](key: String)(build: String => T): T = {
    val f = fixtures.computeIfAbsent(key, _ => new Fixture)
    f.synchronized {
      if (f.value.isEmpty) {
        val dir = scratch("shared")
        try f.value = Some(build(dir))
        catch { case e: Throwable => rmTree(new java.io.File(dir)); throw e }
      }
      f.value.get.asInstanceOf[T]
    }
  }
  // one holder per key, locked on its own: a build inside
  // ConcurrentHashMap.computeIfAbsent would hold a bin lock for the
  // whole build (stalling other keys in that bin), and the nested
  // triangle → co-edge call can fail there as a recursive update
  private final class Fixture { var value: Option[Any] = None }
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Fixture]()

  /** `prefix_<n>`, unique within this JVM: names for session-global
    * objects (catalog tables) that concurrent gates must not share. */
  def uniqueName(prefix: String): String = s"${prefix}_${names.incrementAndGet()}"
  private val names = new java.util.concurrent.atomic.AtomicLong()
}
