package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one closed-loop client running a
  * workload's ops back to back through `graft.SparkEntry.queries`.
  *
  *  1. set-up: session start and `--warm-passes` untimed passes; the
  *     first one's results are kept for the oracle check;
  *  2. `--passes` timed passes. Each op's result is
  *     written as parquet (the lake's complete result); between ops the
  *     harness clears the cache and runs a full GC, outside the timing;
  *  3. `--traced-passes` more passes with the listeners on and spans
  *     recorded (0 unless the run is traced), alternating with the
  *     untraced ones so that both sample the same stretch of JIT warm-up.
  *
  * Writes `result.json` and `spans.jsonl` into `--out`; the metric
  * arithmetic lives in `perfbench/layers.py`.
  *
  * Usage: LakeBench --data DIR --out DIR --ops a,b,c --warm-passes W
  *          --passes N --traced-passes M --cpus N --launch-ms EPOCH_MS
  */
object LakeBench {

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans

  /** JIT compilation and GC milliseconds since JVM start. */
  private def jitMs: Long = jitBean.getTotalCompilationTime
  private def gcMs: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(b.getCollectionTime, 0L))
    t
  }

  /** Seconds of CPU the hypervisor gave to other guests (steal, summed
    * over all CPUs) since boot, from /proc/stat; 0 where there is none.
    * A diagnostic of the machine, not of the program. */
  private def stealS: Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
    finally f.close()
  } catch { case _: Exception => 0.0 }

  final case class OpRun(op: String, span: Long, wallS: Double, cpuS: Double,
                         jitS: Double, gcS: Double,
                         heapMb: Double, leftoverBlocks: Int,
                         leftoverCache: Int, leftoverDirs: Int,
                         error: Option[String])
  final case class Pass(span: Long, traced: Boolean, ops: Seq[OpRun],
                        outputBytes: Long, stealS: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val data = opt("--data")
    val out = opt("--out")
    val ops = opt("--ops").split(",").toSeq
    val warmCount = opt("--warm-passes").toInt
    val passCount = opt("--passes").toInt
    val tracedCount = opt("--traced-passes").toInt
    val trace = tracedCount > 0
    val cpus = opt("--cpus")
    val launchMs = opt("--launch-ms").toLong
    val tmp = System.getProperty("java.io.tmpdir")

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // bound the status store, so retained job and query records do not
      // grow the live heap with the number of passes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    if (trace)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[QeListener].getName)
    val spark = builder.getOrCreate()
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val written = new OutputBytesListener
    sc.addSparkListener(written)
    if (trace) sc.addSparkListener(new JobListener)

    val queries = graft.SparkEntry.queries
    val missing = ops.filterNot(queries.contains)
    require(missing.isEmpty, s"ops not in SparkEntry.queries: ${missing.mkString(",")}")

    def graftDirs(): Set[String] =
      Option(new File(tmp).list()).map(_.filter(_.startsWith("graft-")).toSet)
        .getOrElse(Set.empty)

    /** One op call, timed from the call to its result on disk. */
    def runOp(op: String, parent: Long, input: String, dest: String): OpRun = {
      val span = Trace.open(parent, s"op:$op")
      Trace.currentOp = span.id
      sc.setLocalProperty(Trace.SpanProperty, span.id.toString)
      val dirsBefore = if (Trace.enabled) graftDirs() else Set.empty[String]
      val cpu0 = cpuBean.getProcessCpuTime
      val (jit0, gc0) = (jitMs, gcMs)
      val t0 = System.nanoTime()
      val error = try {
        val df: DataFrame = queries(op)(spark, input)
        df.write.mode("overwrite").parquet(s"$dest/$op")
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val (jit, gc) = ((jitMs - jit0) / 1e3, (gcMs - gc0) / 1e3)
      Trace.close(span)
      sc.setLocalProperty(Trace.SpanProperty, null)
      // hygiene is read after the op returns and before the clean-up
      // below, so it shows what the op itself left behind
      val (blocks, cached, dirs) =
        if (Trace.enabled) {
          SparkInternals.drainListenerBus(sc)
          (SparkInternals.rddBlocks(sc), SparkInternals.cacheEntries(spark),
            (graftDirs() -- dirsBefore).size)
        } else (0, 0, 0)
      spark.catalog.clearCache()
      // the second collection frees what Spark's cleaner released after
      // the first, so the reading is the op's retained heap
      System.gc()
      System.gc()
      val heapMb = memBean.getHeapMemoryUsage.getUsed / 1048576.0
      OpRun(op, span.id, wall, cpu, jit, gc, heapMb, blocks, cached, dirs, error)
    }

    def runPass(dest: String): Pass = {
      val pass = Trace.open(0L, "pass")
      val before = written.bytes.get
      val steal0 = stealS
      val runs = ops.map(runOp(_, pass.id, data, dest))
      Trace.close(pass)
      SparkInternals.drainListenerBus(sc)
      Pass(pass.id, Trace.enabled, runs, written.bytes.get - before, stealS - steal0)
    }

    // the first warm pass is cold; its results are the ones checked
    val warm = (0 until math.max(warmCount, 1)).map(i =>
      runPass(if (i == 0) s"$out/results" else s"$out/pass"))
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    // a fixed number of passes, so every commit is measured at the same
    // point of JIT warm-up and reports the same statistic
    val passes = mutable.ArrayBuffer.empty[Pass]
    for (i <- 0 until math.max(passCount, tracedCount)) {
      if (i < passCount) passes += runPass(s"$out/pass")
      if (i < tracedCount) {
        Trace.enabled = true
        passes += runPass(s"$out/pass")
        Trace.enabled = false
      }
    }

    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    spark.stop()

    val inputBytes = Files.walk(Paths.get(data)).filter(Files.isRegularFile(_))
      .filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum

    val json = new StringBuilder
    json ++= "{" ++= s""""setup_s":$setupS,"session_s":$sessionS,"input_bytes":$inputBytes,"""
    json ++= s""""warm":${warm.map(passJson).mkString("[", ",", "]")},"passes":"""
    json ++= passes.map(passJson).mkString("[", ",", "]")
    json ++= ""","counters":"""
    json ++= Trace.counters.entrySet().toArray(Array.empty[java.util.Map.Entry[Long, OpCounters]])
      .map(e => s""""${e.getKey}":""" + e.getValue.fields
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      .mkString("{", ",", "}")
    json ++= ""","oracles":"""
    json ++= oracles.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    json ++= "}"
    Files.write(Paths.get(out, "result.json"), json.toString.getBytes(StandardCharsets.UTF_8))

    val spans = Trace.synchronized(Trace.spans.toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    Files.write(Paths.get(out, "spans.jsonl"),
      spans.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def passJson(p: Pass): String = {
    val ops = p.ops.map { r =>
      s"""{"op":${str(r.op)},"span":${r.span},"wall_s":${r.wallS},"cpu_s":${r.cpuS},""" +
        s""""jit_s":${r.jitS},"gc_s":${r.gcS},""" +
        s""""heap_mb":${r.heapMb},"leftover_blocks":${r.leftoverBlocks},""" +
        s""""leftover_cache_entries":${r.leftoverCache},"leftover_dirs":${r.leftoverDirs},""" +
        s""""error":${r.error.map(str).getOrElse("null")}}"""
    }
    s"""{"span":${p.span},"traced":${p.traced},"output_bytes":${p.outputBytes},""" +
      s""""steal_s":${p.stealS},"ops":${ops.mkString("[", ",", "]")}}"""
  }

  /** JSON string literal. */
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
