package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.GateMetrics
import graft.graph.{KCore, Undirected}

/** `graph.KCore.peelRounds` against a Scala reference peel that
  * recomputes every round from the edge set, as the `graph_kcore`
  * oracle does — so the operator's nested-survivor-set shortcut is
  * checked, not assumed — plus its canonical-input check, its job
  * structure and the isolation of its per-round statistics. */
class KCoreSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Reference peel of `peelRounds(Undirected.canonical(pairs), …)`:
    * direction and duplicates ignored, self-loops dropped. */
  private def refPeel(pairs: Seq[(Long, Long)], k: Int,
                      rounds: Int): Seq[(Int, Long, Long)] = {
    var edges = pairs.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    (1 to rounds).map { r =>
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size)
      val keep = deg.collect { case (id, d) if d >= k => id }.toSet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (r, keep.size.toLong, edges.size.toLong)
    }
  }

  private def peel(df: DataFrame, k: Int, rounds: Int,
                   cap: Long = KCore.BroadcastNodeCap): Seq[(Int, Long, Long)] =
    KCore.peelRounds(df, k, rounds, broadcastCap = cap).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  private def randomGraph(seed: Int, n: Long, oneIn: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    for {
      a <- 0L until n; b <- 0L until n if a < b && rnd.nextInt(oneIn) == 0
    } yield (a, b)
  }

  /** Peels k = 3 through round 6 without emptying. */
  private val sparse = randomGraph(31, 40, 14)
  /** Past its k = 3 fixpoint at round 1; empty from round 5 at k = 5. */
  private val dense = randomGraph(23, 40, 8)

  test("k-core peel rounds match brute-force iteration") {
    val rnd = new scala.util.Random(29)
    val nodes = 0L until 30L
    var edges = (for {
      a <- nodes; b <- nodes if a < b && rnd.nextInt(4) == 0
    } yield (a, b)).toSet
    val df = Undirected.canonical(edges.toSeq.toDF("a", "b"))
    val got = KCore.peelRounds(df, k = 3, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val expected = (1 to 3).map { r =>
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size)
      val keep = deg.collect { case (id, d) if d >= 3 => id }.toSet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (r, keep.size.toLong, edges.size.toLong)
    }
    assert(got.toSeq == expected, s"got=${got.toSeq} expected=$expected")

    // the shuffled-semi-join fallback (survivor set above the broadcast
    // cap) must produce the identical rounds table
    val noBcast = KCore.peelRounds(df, k = 3, rounds = 3, broadcastCap = 0L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(noBcast.toSeq == expected,
      s"fallback path diverged: ${noBcast.toSeq} != $expected")
  }

  test("peel rounds match the reference peel for every k, round count and join path") {
    // a path peels from both ends: its survivor set is empty from round
    // 3 at k = 2, so rounds 4-6 run on an empty set
    val path = (0L until 5L).map(i => (i, i + 1))
    // duplicates, reversed pairs and self-loops around a 4-clique plus a
    // pendant node
    val clique = for (a <- 0L until 4L; b <- 0L until 4L if a != b) yield (a, b)
    val messy = clique ++ clique.take(5) ++ Seq((3L, 9L), (9L, 3L),
      (9L, 9L), (2L, 2L), (7L, 7L))
    val graphs = Seq("sparse" -> sparse, "dense" -> dense, "path" -> path,
      "messy" -> messy, "self-loops only" -> Seq((1L, 1L), (2L, 2L)))
    for {
      (name, pairs) <- graphs
      df = Undirected.canonical(pairs.toDF("a", "b"))
      k <- Seq(1, 2, 3, 5)
      rounds <- Seq(0, 1, 3, 6)
    } {
      val expected = refPeel(pairs, k, rounds)
      assert(peel(df, k, rounds) == expected, s"$name k=$k rounds=$rounds")
      assert(peel(df, k, rounds, cap = 0L) == expected,
        s"$name k=$k rounds=$rounds, shuffled semi-joins")
    }
    // the cases span the peel: survivors emptied mid-peel, fixpoints
    // reached early, and a graph still shrinking in round 6
    assert(refPeel(path, 2, 6).map(_._2) == Seq(4L, 2L, 0L, 0L, 0L, 0L))
    assert(refPeel(sparse, 2, 6).map(_._2).distinct == Seq(34L, 33L))
    val shrinking = refPeel(sparse, 3, 6).map(_._2)
    assert(shrinking.zip(shrinking.tail).forall { case (a, b) => a > b })
  }

  // the canonicalizer is `Undirected.canonical`
  test("pairs that are not canonical throw; KCore.undirected canonicalizes them") {
    val triangle = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val blocks0 = spark.sparkContext.getPersistentRDDs.keySet
    for ((name, extra) <- Seq("a reversed pair" -> (3L, 1L), "a self-loop" -> (2L, 2L))) {
      val pairs = triangle :+ extra
      val e = intercept[IllegalArgumentException](peel(pairs.toDF("a", "b"), 2, 2))
      assert(e.getMessage.contains(": 1 rows"), s"$name: ${e.getMessage}")
      assert(peel(Undirected.canonical(pairs.toDF("a", "b")), 2, 2) == refPeel(pairs, 2, 2),
        name)
    }
    val withNull = (triangle.map { case (a, b) => (Option(a), Option(b)) } :+
      (Some(4L), None)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](peel(withNull, 2, 2))
    assert(e.getMessage.contains(": 1 rows"), s"a null endpoint: ${e.getMessage}")
    assert(peel(Undirected.canonical(withNull), 2, 2) == refPeel(triangle, 2, 2))
    // a rejected input releases its checkpoint
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == blocks0.toSet)
  }

  test("canonical input is checkpointed by one job with no shuffle") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val df = sparse.toDF("a", "b")
    GateMetrics.measure(spark)(()) // earlier tests' executions have all arrived
    spark.listenerManager.register(listener)
    val jobs = try GateMetrics.measure(spark)(KCore.peelRounds(df, 3, 0))
      finally spark.listenerManager.unregister(listener)
    assert(jobs.size == 1, jobs)
    // the bus delivered the checkpoint's execution end before the
    // measuring barrier's start
    assert(plans.size == 1)
    plans.forEach { p =>
      val shuffles = collectWithSubqueries(p) { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty, s"E_0 is built by a shuffle:\n$p")
    }
  }

  test("each further round costs at most three jobs") {
    // one aggregation per round: the survivor-set broadcast, the degree
    // shuffle's map stage and the checkpointing result stage
    val df = sparse.toDF("a", "b")
    def jobs(rounds: Int) =
      GateMetrics.measure(spark)(KCore.peelRounds(df, 3, rounds)).size
    jobs(3) // compiles the shapes before either is counted
    val (two, three) = (jobs(2), jobs(3))
    assert(three - two <= 3, s"2 rounds: $two jobs, 3 rounds: $three jobs")
  }

  test("concurrent peels on one session keep their own statistics") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Verify runs gates at once on one session: each call must read
    // only its own round metrics
    val (df1, df2) = (sparse.toDF("a", "b"), dense.toDF("a", "b"))
    val (exp1, exp2) = (refPeel(sparse, 3, 4), refPeel(dense, 5, 4))
    assert(exp1 != exp2)
    for (_ <- 1 to 3) {
      val a = Future(peel(df1, 3, 4))
      val b = Future(peel(df2, 5, 4))
      assert(Await.result(a, 120.seconds) == exp1)
      assert(Await.result(b, 120.seconds) == exp2)
    }
  }
}
