package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Caching

/** The round lifecycle of every iterative loop operator: results are
  * unchanged by the per-round lineage cuts, no storage blocks survive
  * a call, the only live reap spill is the one backing the returned
  * frame (gone again after `Caching.release`), and a caller's own
  * checkpointed input is never released by the loop.
  */
class LoopLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  /** Runs `op`, evaluates its result with `check`, and asserts that no
    * NEW persisted RDDs remain and that `Caching.liveSpillCount` is the
    * baseline plus the returned frame's `spills`, back to the baseline
    * after `Caching.release`. Snapshot diffs, not emptiness checks:
    * other suites share this JVM's SparkContext and may hold their own
    * persists. `clearsCache` applies the Verify/Bench boundary
    * (`clearCache` between gates) before the block check, for gates
    * that persist an input for their own lifetime by design;
    * checkpoint blocks are not CacheManager entries, so the boundary
    * cannot hide a leaked round. */
  private def assertLifecycle(op: String, spills: Int = 1,
      clearsCache: Boolean = false)(run: => DataFrame)(
      check: DataFrame => Unit): Unit = {
    val blocks0 = spark.sparkContext.getPersistentRDDs.keySet
    val spills0 = Caching.liveSpillCount
    val out = run
    check(out)
    if (clearsCache) spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- blocks0
    assert(leaked.isEmpty, s"$op leaked cached RDDs: $leaked")
    assert(Caching.liveSpillCount == spills0 + spills,
      s"$op: ${Caching.liveSpillCount} live spills, expected " +
        s"baseline $spills0 + $spills")
    Caching.release(out)
    assert(Caching.liveSpillCount == spills0,
      s"$op: release left ${Caching.liveSpillCount - spills0} spill(s)")
  }

  private def byNode(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Reference power iteration: r' = teleport(v) + d · Σ_in r·w/out(src). */
  private def refRanks(edges: Seq[(Long, Long, Double)], r0: Long => Double,
                       teleport: Long => Double, iters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    (1 to iters).foldLeft(nodes.map(n => n -> r0(n)).toMap) { (r, _) =>
      nodes.map { n =>
        n -> (teleport(n) + 0.85 * edges.filter(_._2 == n)
          .map(e => r(e._1) * e._3 / out(e._1)).sum)
      }.toMap
    }
  }

  private val directed = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0),
    (1L, 3L, 2.0), (4L, 1L, 1.0))

  private def assertClose(got: Map[Long, Double], exp: Map[Long, Double]): Unit = {
    assert(got.keySet == exp.keySet, s"$got vs $exp")
    exp.foreach { case (n, v) =>
      assert(math.abs(got(n) - v) < 1e-12, s"node $n: ${got(n)} vs $v")
    }
  }

  test("Caching.iterate runs every round and keeps the caller's init") {
    val init = spark.range(0, 10).select(col("id"), lit(0L).as("x"))
      .localCheckpoint()
    assertLifecycle("iterate") {
      Caching.iterate(init, 3)((prev, r) =>
        prev.select(col("id"), (col("x") + lit(r.toLong)).as("x")))
    } { out =>
      assert(out.as[(Long, Long)].collect().toMap ==
        (0L until 10L).map(_ -> 6L).toMap)
    }
    assert(init.count() == 10L)
    assert(Caching.iterate(init, 0)((_, _) => fail("step ran")) eq init)
    Caching.releaseCheckpoint(init)
  }

  test("pagerank and personalized pagerank leave no cached blocks") {
    val edges = directed.toDF("src", "dst", "w")
    assertLifecycle("PageRank.run") {
      graft.graph.PageRank.run(edges, iters = 4)
    } { out =>
      assertClose(byNode(out), refRanks(directed, _ => 1.0, _ => 0.15, 4))
    }
    val seed = (n: Long) => if (n == 4L) 1.0 else 0.0
    assertLifecycle("PageRank.runPersonalized") {
      graft.graph.PageRank.runPersonalized(edges, Seq(4L).toDF("node"),
        iters = 4)
    } { out =>
      assertClose(byNode(out),
        refRanks(directed, seed, n => 0.15 * seed(n), 4))
    }
  }

  /** The eager per-round checkpoints must not change what the peel /
    * propagation computes, and must leave no cached blocks behind. */
  test("kcore and connected components leave no cached blocks") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 8L))
      .toDF("a", "b")
    // stats only: the result is rebuilt from literals, no spill backs it
    assertLifecycle("KCore.peelRounds", spills = 0) {
      graft.graph.KCore.peelRounds(graft.graph.Undirected.canonical(pairs),
        k = 2, rounds = 2)
    } { out =>
      val stats = out.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // triangle {1,2,3} survives k=2 both rounds; 4 and the 8-9 pair drop
      assert(stats.toSeq == Seq((1, 3L, 3L), (2, 3L, 3L)), stats.toSeq)
    }
    // localCheckpoint blocks are released per round and at the end;
    // only the reap FILES back the returned CC frame
    assertLifecycle("Clusters.connectedComponents") {
      graft.dedup.Clusters.connectedComponents(pairs)
    } { out =>
      val comp = out.as[(Long, Long)].collect().toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        8L -> 8L, 9L -> 8L))
    }
  }

  /** Same discipline for label propagation, HITS and BFS (BFS keeps the
    * per-round file reap: its frontiers are tiny, and the A/B read
    * flat-to-negative for the block form): results unchanged and no
    * storage blocks survive any of the calls. */
  test("label prop, HITS and BFS leave no cached blocks") {
    val sym = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (4L, 5L, 3.0))
    val edges = (sym ++ sym.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    assertLifecycle("LabelProp.run") {
      graft.graph.LabelProp.run(edges, iters = 2)
    } { out =>
      // synchronous LPA oscillates on a path/pair: round 2 re-reads the
      // round-1 labels, so 2 takes back its own label and 4/5 swap back
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L, 5L -> 5L),
        labels.toString)
    }
    assertLifecycle("Hits.run") {
      graft.graph.Hits.run(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iters = 2)
    } { out =>
      val hits = out.collect()
      assert(hits.length == 3 &&
        math.abs(hits.map(_.getDouble(1)).sum - 1.0) < 1e-12)
    }
    assertLifecycle("Bfs.levels") {
      graft.graph.Bfs.levels(
        Seq((1L, 2L), (2L, 3L), (9L, 9L)).toDF("src", "dst"),
        Seq(1L).toDF("node"), maxHops = 4)
    } { out =>
      val hops = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), hops.toString)
    }
  }

  test("louvain multilevel leaves no cached blocks") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ k4.map(_.swap)).map { case (a, b) => (a, b, 1.0) }
      .toDF("src", "dst", "w")
    assertLifecycle("Louvain.multilevel") {
      graft.graph.Louvain.multilevel(edges, levels = 2)
    } { out =>
      val a = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a.keySet == Set(1L, 2L, 3L, 4L) && a.values.toSet.size == 1,
        s"the clique must stay one community, got $a")
    }
  }

  test("sim_mmr_diversify releases every round's checkpoint") {
    // the gate persists its candidate set for its lifetime (the harness
    // boundary clears it); its rounds must leave nothing else behind
    assertLifecycle("sim_mmr_diversify", clearsCache = true) {
      graft.queries.SimQueries.simMmrDiversify(spark, sfDir)
    } { out =>
      val ranks = out.select("query_id", "mmr_rank").as[(Long, Int)]
        .collect().groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
      assert(ranks.nonEmpty && ranks.forall(_ == (1 to 5)), ranks.toString)
    }
  }

  test("loops never release a caller's checkpointed edges") {
    val seeds = Seq(1L).toDF("node")
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "PageRank.run" -> (e => graft.graph.PageRank.run(e, iters = 3)),
      "PageRank.runPersonalized" ->
        (e => graft.graph.PageRank.runPersonalized(e, seeds, iters = 3)),
      "LabelProp.run" -> (e => graft.graph.LabelProp.run(e, iters = 3)),
      "Hits.run" -> (e => graft.graph.Hits.run(e, iters = 2)))
    val broken = ops.filterNot { case (_, run) =>
      val edges = directed.toDF("src", "dst", "w").localCheckpoint()
      val n = edges.count()
      val out = run(edges)
      out.count()
      Caching.release(out)
      try scala.util.Try(edges.count()).toOption.contains(n)
      finally Caching.releaseCheckpoint(edges)
    }.map(_._1)
    assert(broken.isEmpty, s"released the caller's edges: $broken")
  }
}
