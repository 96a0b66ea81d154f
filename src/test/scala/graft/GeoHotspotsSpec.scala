package graft

/** `GeoQueries.geoHotspots` (Getis–Ord Gi* over the lat/lon grid) on
  * the test data: the neighbor rings follow the grid's topology and the
  * hotspot ranking is ordered and sound. */
class GeoHotspotsSpec extends SparkSpecBase {

  test("Gi* hotspots: ring sizes honor the grid topology and the ranking is sound") {
    val out = graft.queries.GeoQueries.geoHotspots(spark, sfDir)
      .collect()
    assert(out.length == 20)
    // longitude wraps, latitude clips: interior cells see 9 neighbors,
    // the two latitude edge rows see 6 — nothing else is possible
    out.foreach { r =>
      val w = r.getAs[Long]("w_neighbors")
      val y = r.getAs[Long]("cell_y")
      if (y == 0 || y == 11) assert(w == 6L, r.toString)
      else assert(w == 9L, r.toString)
    }
    val gis = out.map(_.getAs[Double]("gi_star"))
    assert(gis.sliding(2).forall(w => w(1) <= w(0)), "not sorted desc")
    assert(gis.head > 0.0, "top hotspot should sit above the mean")
  }
}
