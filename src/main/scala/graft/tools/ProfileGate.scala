package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-time attribution for registry gates (dev tool): runs
  * each gate through the SAME timed action the bench uses while a
  * listener records every Spark job's duration and callsite, so a slow
  * gate is attributed to the exact source line that launched the work
  * instead of guessed at from the plan.
  *
  *   SPARK_GRAFT_CPUS=32 tools/run_main.sh graft.tools.ProfileGate gate[,gate...] [reps]
  *
  * Per gate, prints one line per job (dur, callSite.short) for the
  * FINAL rep (earlier reps warm fixture scratch + JIT exactly as the
  * bench's best-of-N does), then a by-callsite rollup. Ends with one
  * `[gate] <name> jobs <n> wall <s>` line per gate, the final rep's
  * job count and wall.
  */
object ProfileGate {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileGate <gate>[,<gate>...] [reps=2]")
    val gates = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.tune(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()

    final case class J(id: Int, site: String, var start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?")
        jobs.put(e.jobId, J(e.jobId, site, e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
    })

    val summary = gates.map { gate =>
      val defn = graft.SparkEntry.queries(gate)
      var wall = 0.0
      (1 to reps).foreach { rep =>
        jobs.clear()
        spark.catalog.clearCache()
        record = rep == reps
        val t0 = System.nanoTime()
        val df = defn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - t0) / 1e9
        record = false
        println(f"[prof] rep$rep $gate%-28s $wall%8.3f s")
      }
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
      println(s"--- $gate jobs (final rep) ---")
      var prevEnd = done.headOption.map(_.start).getOrElse(0L)
      done.foreach { j =>
        val gap = (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        println(f"[job] ${(j.end - j.start) / 1e3}%8.3f s  (gap $gap%6.3f s)  ${j.site}")
      }
      println(s"--- $gate by callsite ---")
      done.groupBy(_.site).view.mapValues(js =>
          (js.map(j => j.end - j.start).sum / 1e3, js.size)).toSeq
        .sortBy(-_._2._1)
        .foreach { case (s, (t, n)) => println(f"[site] $t%8.3f s  n=$n%-3d $s") }
      f"[gate] $gate jobs ${jobs.size} wall $wall%.3f"
    }
    summary.foreach(println)
    spark.stop()
  }
}
