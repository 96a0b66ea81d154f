package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous weighted label propagation — the cheap community
  * detector corpus pipelines run over co-occurrence graphs (near-dup
  * clusters, topic hubs, crawl-host communities) when connected
  * components are too coarse and modularity methods too expensive.
  *
  * Determinism is the whole design: the classic asynchronous LPA is
  * order-dependent (and therefore un-oracle-able), so this is the
  * synchronous variant with a TOTAL tie order — each round every node
  * adopts the label with the maximum incident edge weight among its
  * neighbors' PREVIOUS labels, ties broken by the smallest label.
  * Fixed round count, same rationale as PageRank.run: deterministic
  * output, no convergence action per round, unrollable by a SQL
  * oracle.
  *
  * Execution shape per round: edges (E rows) ⋈ labels (V rows) on
  * src, groupBy (dst, label) sum — partial-aggregable — then a
  * per-node argmax window PARTITIONED BY the node (bounded peer
  * groups: a node's candidate labels ≤ its degree, so no single-task
  * window even under hub skew). Per round one E-shuffle + one
  * V-window; nothing driver-side, nothing ∝ V².
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds over a SYMMETRIC
    * (src, dst, w) edge list (every undirected edge present in both
    * directions). Initial label(v) = v. Output: (node, label). */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // symmetric list ⇒ every node appears as src; pre-partition the
    // invariant E-row side once so each round only moves the V-row
    // label table (the PageRank.run trans idiom)
    val e = edges.select("src", "dst", "w")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byNode = Window.partitionBy("node")
      .orderBy(col("tw").desc, col("label"))
    try {
      graft.core.Caching.iterate(e.select(col("src").as("node")).distinct()
          .withColumn("label", col("node")), iters) { (labels, _) =>
        e.join(labels, e("src") === labels("node"))
          .groupBy(e("dst").as("node"), col("label"))
          .agg(sum("w").as("tw"))
          .withColumn("rn", row_number().over(byNode))
          .where(col("rn") === 1)
          .select(col("node"), col("label"))
      }
    } finally e.unpersist(blocking = false)
  }
}
