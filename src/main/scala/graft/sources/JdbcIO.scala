package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink (SURVEY.md §2.1 S6/W5, S10).
  *
  * The reference reads 19 Hive-metastore tables over JDBC
  * (`hive_metastore_migration.py:1262-1310`) and writes them back in
  * foreign-key order (`:1312-1336`). Scale notes:
  *  - reads of big tables must be RANGE-PARTITIONED
  *    (partitionColumn/lowerBound/upperBound/numPartitions) or the whole
  *    table funnels through one task; `readPartitioned` requires those.
  *  - FK ordering is driver-side sequencing of independent Spark jobs —
  *    it bounds nothing at scale (each write is fully parallel).
  *
  * Tests use embedded Derby (on Spark's classpath); production swaps the
  * URL/driver — the plan shape is identical.
  */
object JdbcIO {

  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  /** S6: single-partition JDBC read — only for catalog-sized tables. */
  def read(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    props.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** S6 at scale: range-partitioned parallel read. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long, upperBound: Long,
                      numPartitions: Int,
                      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound).option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** W5: append/overwrite one table. */
  def write(df: DataFrame, url: String, table: String, mode: SaveMode,
            props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table).mode(mode)
    props.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  /** Dependency level per table: 0 for parentless, else
    * 1 + max(parent levels). Throws on a cycle. */
  def fkLevels(names: Seq[String],
               deps: Map[String, Seq[String]]): Map[String, Int] = {
    val level = scala.collection.mutable.Map.empty[String, Int]
    def levelOf(n: String, seen: Set[String]): Int = level.getOrElseUpdate(n, {
      require(!seen(n), s"FK cycle at $n")
      val ps = deps.getOrElse(n, Nil).filter(names.contains)
      if (ps.isEmpty) 0 else ps.map(levelOf(_, seen + n)).max + 1
    })
    names.foreach(levelOf(_, Set.empty))
    level.toMap
  }

  /** W5: FK-LEVEL-parallel multi-table load (reference `:1312-1336`
    * writes serially in FK order). The FK constraint only orders
    * parents before children — tables in the same dependency level
    * are independent and their writes can run CONCURRENTLY as
    * separate Spark jobs (Spark's scheduler interleaves their tasks;
    * with fair pools each level saturates the cluster instead of
    * paying 19 serial job setups + stragglers). Barrier per level.
    *
    * `deps`: table → direct FK parents. Tables absent from `deps`
    * have no parents. Levels are computed topologically; a cycle is
    * a caller error and throws.
    */
  def writeLeveled(url: String, tables: Seq[(String, DataFrame)],
                   deps: Map[String, Seq[String]],
                   mode: SaveMode = SaveMode.Append): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val level = fkLevels(tables.map(_._1), deps)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, tables.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      tables.groupBy { case (n, _) => level(n) }.toSeq.sortBy(_._1)
        .foreach { case (_, group) =>
          val fs = group.map { case (name, df) =>
            Future(write(df, url, name, mode))
          }
          fs.foreach(Await.result(_, Duration.Inf))
        }
    } finally pool.shutdown()
  }
}
