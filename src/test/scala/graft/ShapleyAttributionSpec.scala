package graft

import scala.util.Random
import org.apache.spark.sql.Row
import graft.core.GraftSession

/** `AnalyticsQueries.xShapleyAttribution` on a planted single-channel
  * log, on generated exposure logs (seeded `scala.util.Random`) and on
  * the test data: the channel credits obey the Shapley axioms whatever
  * the log's shape. */
class ShapleyAttributionSpec extends SparkSpecBase {
  import spark.implicits._

  private val baseTs = java.sql.Timestamp.valueOf("2024-06-01 09:00:00")
  private def ts(offsetDays: Int, i: Int) =
    new java.sql.Timestamp(baseTs.getTime + offsetDays * 86400000L + i)

  /** The attribution of an events table of (event_id, ts, user_id,
    * event_type, value, props) rows. */
  private def attribute(tag: String,
                        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)])
      : Array[Row] = {
    val dir = GraftSession.scratch(tag)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    graft.queries.AnalyticsQueries.xShapleyAttribution(spark, dir).collect()
  }

  /** Conservation: Σφ = v(full) − v(∅), to 6dp rounding × 4 terms. */
  private def assertConserved(out: Array[Row], what: String): Unit = {
    val total = out.head.getAs[Long]("total_conversions")
    val base = out.head.getAs[Long]("baseline_conversions")
    val sumPhi = out.map(_.getAs[Double]("shapley")).sum
    assert(math.abs(sumPhi - (total - base)) < 1e-4,
      s"$what: conservation broken: $sumPhi vs ${total - base}")
  }

  test("Shapley attribution: single-channel fixture gets ALL the credit, and the conservation law holds") {
    // 10 users exposed only to 'view' who all convert; 10 users
    // exposed only to 'click' who never convert. v is monotone
    // (subset-sum), so view's marginal is the full 10 in EVERY
    // coalition => phi_view = 10 exactly; every other channel = 0.
    val rows =
      (1L to 10L).flatMap(u => Seq(
        (u * 10, ts(0, u.toInt), u, "view", 1.0, "{}"),
        (u * 10 + 1, ts(1, u.toInt), u, "purchase", 1.0, "{}"))) ++
        (11L to 20L).map(u => (u * 10, ts(0, u.toInt), u, "click", 1.0, "{}"))
    val out = attribute("shap", rows)
    val phi = out.map(r => r.getString(0) -> r.getAs[Double]("shapley")).toMap
    assert(phi("view") == 10.0, phi.toString)
    assert(phi("click") == 0.0 && phi("error") == 0.0 && phi("signup") == 0.0)
    assert(out.head.getAs[Long]("total_conversions") == 10L)
    assert(out.head.getAs[Long]("baseline_conversions") == 0L)
    // conservation on REAL data
    assertConserved(graft.queries.AnalyticsQueries
      .xShapleyAttribution(spark, sfDir).collect(), "test data")
  }

  test("Shapley conservation and symmetry hold on random exposure logs") {
    val rnd = new Random(1515)
    val types = Vector("click", "error", "signup", "view")
    for (trial <- 1 to 3) {
      val rows = (1L to (20 + rnd.nextInt(30))).flatMap { u =>
        val exposures = types.filter(_ => rnd.nextBoolean())
        val conv = rnd.nextBoolean()
        val evs = exposures.zipWithIndex.map { case (t, i) =>
          (u * 100 + i, ts(30, i), u, t, 1.0, "{}")
        }
        if (conv) evs :+ ((u * 100 + 99, ts(30, 99), u, "purchase", 1.0, "{}"))
        else evs
      }
      if (rows.nonEmpty) {
        val out = attribute(s"shapr$trial", rows)
        assert(out.length == 4)
        assertConserved(out, s"trial $trial")
        // nonnegativity: v is monotone, so every marginal is ≥ 0
        out.foreach(r =>
          assert(r.getAs[Double]("shapley") >= 0.0, r.toString))
      }
    }
  }
}
