package graft

import scala.util.Random
import graft.core.GraftSession

/** `AnalyticsQueries.xShapleyAttribution` on generated exposure logs
  * (seeded `scala.util.Random`): the channel credits obey the Shapley
  * axioms whatever the log's shape. */
class ShapleyAttributionSpec extends SparkSpecBase {
  import spark.implicits._

  test("Shapley conservation and symmetry hold on random exposure logs") {
    val rnd = new Random(1515)
    val types = Vector("click", "error", "signup", "view")
    val baseTs = java.sql.Timestamp.valueOf("2024-07-01 10:00:00")
    for (trial <- 1 to 3) {
      val rows = (1L to (20 + rnd.nextInt(30))).flatMap { u =>
        val exposures = types.filter(_ => rnd.nextBoolean())
        val conv = rnd.nextBoolean()
        val evs = exposures.zipWithIndex.map { case (t, i) =>
          (u * 100 + i, new java.sql.Timestamp(baseTs.getTime + i), u, t,
            1.0, "{}")
        }
        if (conv)
          evs :+ ((u * 100 + 99, new java.sql.Timestamp(baseTs.getTime + 99),
            u, "purchase", 1.0, "{}"))
        else evs
      }.filter(_ => true)
      if (rows.nonEmpty) {
        val dir = GraftSession.scratch(s"shapr$trial")
        rows.toDF("event_id", "ts", "user_id", "event_type", "value",
            "props")
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val out = graft.queries.AnalyticsQueries
          .xShapleyAttribution(spark, dir).collect()
        assert(out.length == 4)
        val total = out.head.getAs[Long]("total_conversions")
        val base = out.head.getAs[Long]("baseline_conversions")
        val sumPhi = out.map(_.getAs[Double]("shapley")).sum
        // conservation: Σφ = v(full) − v(∅), to 6dp rounding × 4 terms
        assert(math.abs(sumPhi - (total - base)) < 1e-4,
          s"trial $trial: $sumPhi vs ${total - base}")
        // nonnegativity: v is monotone, so every marginal is ≥ 0
        out.foreach(r =>
          assert(r.getAs[Double]("shapley") >= 0.0, r.toString))
      }
    }
  }
}
