package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: minimum hop distance from a seed
  * set, capped at `maxHops` — the reachability/blast-radius primitive
  * (impact analysis from a tainted-document seed set, influence
  * neighborhoods, lineage walks).
  *
  * Frontier-expansion form, the only shape that distributes: each round
  * joins the CURRENT frontier (never the visited set) against the edge
  * list, dedups, and anti-joins out already-visited nodes — so round
  * cost is |frontier ⋈ E| and the whole walk touches each edge at most
  * once per direction, like Pregel's message model. The visited set
  * and frontier are checkpoint-reaped per round (the PageRank/label-
  * prop lineage discipline: an unreaped loop doubles the plan per
  * iteration). An empty frontier short-circuits the remaining rounds.
  *
  * At 100 TB the hop cap is the safety contract: unbounded BFS on a
  * small-world graph floods the whole component by hop ~6; a capped
  * walk is bounded by the k-hop neighborhood the caller asked about.
  */
object Bfs {

  /** Nodes reachable from `seeds` within `maxHops` over directed
    * edges `(src, dst)`, with their minimum hop count. `seeds` must
    * have a single `node` column; undirected graphs pass a
    * symmetric edge list. Returns (node, hop). */
  def levels(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.select("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var visited = graft.core.Caching.reap(
        seeds.select(col("node"), lit(0L).as("hop")))
      var frontier = visited
      var h = 1
      var exhausted = false
      while (h <= maxHops && !exhausted) {
        val next = frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("hop"))
        val prevFrontier = frontier
        frontier = graft.core.Caching.reap(next)
        // hop 1's frontier IS visited — never release the shared spill
        if (prevFrontier ne visited) graft.core.Caching.release(prevFrontier)
        if (frontier.isEmpty) exhausted = true
        else {
          // the write consumes the old spill: reclaim it as the new lands
          val prevVisited = visited
          visited = graft.core.Caching.reap(visited.unionByName(frontier))
          graft.core.Caching.release(prevVisited)
        }
        h += 1
      }
      if (frontier ne visited) graft.core.Caching.release(frontier)
      visited
    } finally e.unpersist(blocking = false)
  }
}
