package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The undirected-graph vocabulary the graph operators share: the
  * canonical edge list and its plain degrees. An undirected edge list
  * here is CANONICAL when every row is an (a, b) pair with `a < b`, no
  * null endpoint and no pair twice; [[KCore.peelRounds]] and
  * [[Triangles.closed]] take such a list. */
object Undirected {

  /** The canonical undirected edge list of arbitrary (a, b) pairs:
    * direction and duplicates ignored, self-loops and null endpoints
    * dropped. For callers whose pairs lack that guarantee; it costs one
    * shuffle (the `distinct`). */
  def canonical(pairs: DataFrame): DataFrame = pairs
    .select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b"))
    .where(col("a") =!= col("b"))
    .distinct()

  /** Plain degrees (id, d) of a canonical edge list: each row counts
    * once for each endpoint, so a repeated pair would count twice. */
  def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
}
