package graft.tools

import graft.core.GateMetrics
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-time attribution for registry gates (dev tool): runs
  * each gate through the SAME timed action the bench uses while
  * [[GateMetrics.measure]] records every Spark job's duration and call
  * site, so a slow gate is attributed to the exact source line that
  * launched the work instead of guessed at from the plan.
  *
  *   SPARK_GRAFT_CPUS=32 tools/run_main.sh graft.tools.ProfileGate gate[,gate...] [reps]
  *
  * Per gate, prints one `[job]` line per job of the FINAL rep (earlier
  * reps warm fixture scratch + JIT exactly as the bench's best-of-N
  * does): its duration, the gap since the previous job ended, its SQL
  * execution id (`-` outside one) and its call site. A job still
  * running when the rep returned reads `unended`. Then one `[site]`
  * line per call site (summed duration, job count), each job filed by
  * [[operatorSites]]. Ends with one
  * `[gate] <name> jobs <n> compiles <c> wall <s>` line per gate: the
  * final rep's job count, generated classes compiled
  * ([[GateMetrics.compiles]]) and wall.
  */
object ProfileGate {

  /** The site the `[site]` table files each of `jobs` under. An adaptive
    * query runs its stage jobs from a thread pool, so their own call
    * site is `$anonfun$withThreadLocalCaptured… at CompletableFuture…`,
    * not the operator's line; such a job is filed under the site of a
    * job of the same SQL execution that has an operator site (the
    * result job of a write or a checkpoint), when the window holds one.
    * A `collect` or `count` runs its result stage from the pool too, so
    * its jobs keep their own site. */
  def operatorSites(jobs: Seq[GateMetrics.Job]): Seq[String] = {
    def pooled(j: GateMetrics.Job) = j.site.startsWith("$anonfun$withThreadLocalCaptured")
    val byExec = jobs.filterNot(pooled)
      .flatMap(j => j.executionId.map(_ -> j.site)).distinctBy(_._1).toMap
    jobs.map(j => j.executionId.filter(_ => pooled(j)).flatMap(byExec.get).getOrElse(j.site))
  }

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

    val summary = gates.map { gate =>
      val defn = graft.SparkEntry.queries(gate)
      def rep(i: Int): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        defn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[prof] rep$i $gate%-28s $wall%8.3f s")
        wall
      }
      (1 until reps).foreach(rep)
      var wall = 0.0
      var compiles = 0L
      val jobs = GateMetrics.measure(spark) {
        val c0 = GateMetrics.compiles
        wall = rep(reps)
        compiles = GateMetrics.compiles - c0
      }
      def dur(j: GateMetrics.Job): Double = if (j.endMs < 0) 0.0 else (j.endMs - j.startMs) / 1e3
      println(s"--- $gate jobs (final rep) ---")
      var prevEnd = jobs.headOption.fold(0L)(_.startMs)
      jobs.foreach { j =>
        val gap = (j.startMs - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.endMs)
        val took = if (j.endMs < 0) "   unended" else f"${dur(j)}%8.3f s"
        val exec = j.executionId.fold("-")(_.toString)
        println(f"[job] $took  (gap $gap%6.3f s)  exec $exec%-5s ${j.site}")
      }
      println(s"--- $gate by callsite ---")
      jobs.zip(operatorSites(jobs)).groupBy(_._2).view
        .mapValues(js => (js.map(j => dur(j._1)).sum, js.size)).toSeq
        .sortBy(-_._2._1)
        .foreach { case (s, (t, n)) => println(f"[site] $t%8.3f s  n=$n%-3d $s") }
      f"[gate] $gate jobs ${jobs.size} compiles $compiles wall $wall%.3f"
    }
    summary.foreach(println)
    spark.stop()
  }
}
