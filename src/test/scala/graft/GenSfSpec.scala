package graft

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.tools.GenSf

/** Pins the scale-data generator (tools.GenSf) against the driver
  * testdata contract: identical schemas (so every registry query runs
  * unmodified on generated dirs), cardinalities scaled by the
  * multiplier, and byte-determinism across runs (the generator is
  * pure xxhash64 over ids — a re-generated sf1 must reproduce the
  * same bench workload, or scaling comparisons across rounds drift). */
class GenSfSpec extends SparkSpecBase {

  private lazy val out1 = { // tiny: 1/100 of sf0.1 per table via mult=...
    val dir = GraftSession.scratch("gensf") + "/gen"
    GenSf.build(spark, dir, 1)
    dir
  }

  test("generated schemas match the driver testdata schemas exactly") {
    // timestamp physical flavor is snapshot-dependent (the driver
    // writes TIMESTAMP(MICROS,false) = NTZ; our session writes INT96
    // = TimestampType) — wall-clock-equal under the UTC session and
    // interchangeable for every query, so flavors are normalized here
    def norm(dt: String): String =
      if (dt == "timestamp_ntz") "timestamp" else dt
    Tables.All.foreach { t =>
      val want = spark.read.parquet(s"$sfDir/$t.parquet").schema
        .map(f => (f.name, norm(f.dataType.simpleString)))
      val got = spark.read.parquet(s"$out1/$t.parquet").schema
        .map(f => (f.name, norm(f.dataType.simpleString)))
      // ts physical flavor varies by driver snapshot (NANOS→long vs
      // MICROS→ntz vs INT96→timestamp); compare events through the
      // normalizing reader instead of the raw footer
      if (t == "events") {
        val wantN = Tables.events(spark, sfDir).schema
          .map(f => (f.name, f.dataType.simpleString))
        val gotN = Tables.events(spark, out1).schema
          .map(f => (f.name, f.dataType.simpleString))
        assert(gotN == wantN, s"$t schema drift: $gotN vs $wantN")
      } else assert(got == want, s"$t schema drift: $got vs $want")
    }
  }

  test("cardinalities scale with the multiplier; planted dup rates hold") {
    val docs = spark.read.parquet(s"$out1/documents.parquet")
    assert(docs.count() == 5000L)
    assert(spark.read.parquet(s"$out1/lineitem.parquet")
      .groupBy("l_orderkey").count().agg(avg("count")).head().getDouble(0)
      > 3.5, "lineitems per order should average ~4")
    val dupTexts = docs.count() - docs.select("text").distinct().count()
    assert(dupTexts >= 8, s"exact-dup planting missing ($dupTexts)")
    // embeddings are unit-norm
    val nrm = spark.read.parquet(s"$out1/embeddings.parquet")
      .select(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))).as("n"))
      .agg(min("n"), max("n")).head()
    assert(math.abs(nrm.getDouble(0) - 1.0) < 1e-4 &&
      math.abs(nrm.getDouble(1) - 1.0) < 1e-4, s"non-unit embeddings: $nrm")
  }

  test("generation is deterministic: re-run reproduces identical contents") {
    val dir2 = GraftSession.scratch("gensf2") + "/gen"
    GenSf.build(spark, dir2, 1)
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      val h1 = spark.read.parquet(s"$out1/$t.parquet")
        .select(xxhash64(to_json(struct(col("*")))).as("h"))
        .agg(sum("h")).head().getLong(0)
      val h2 = spark.read.parquet(s"$dir2/$t.parquet")
        .select(xxhash64(to_json(struct(col("*")))).as("h"))
        .agg(sum("h")).head().getLong(0)
      assert(h1 == h2, s"$t not deterministic across runs")
    }
  }
}
