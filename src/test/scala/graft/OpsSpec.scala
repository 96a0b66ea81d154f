package graft

import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("kvPairsToMap drops null keys and builds per-id maps") {
    val df = Seq((1L, "a", "x"), (1L, "b", "y"), (2L, "a", "z"),
      (2L, null.asInstanceOf[String], "dropped")).toDF("id", "k", "v")
    val m = AggOps.kvPairsToMap(df, "id", "k", "v", "m")
      .select($"id", AggOps.mapToCanonicalString($"m").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "a=x,b=y")
    assert(m(2L) == "a=z")
  }

  test("collectSortedByIdx orders payloads by idx") {
    val df = Seq((1L, 3, "c"), (1L, 1, "a"), (1L, 2, "b"), (2L, 9, "z"))
      .toDF("id", "idx", "p")
    val got = AggOps.collectSortedByIdx(df, "id", "idx", col("p"), "arr")
      .select($"id", array_join($"arr", "").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "abc" && got(2L) == "z")
  }

  test("generateConsecutiveIds yields gap-free range from start") {
    val df = Tables.customer
    val ids = IdOps.generateConsecutiveIds(df, "id", 500L)
      .select("id").as[Long].collect().sorted
    assert(ids.head == 500L)
    assert(ids.last == 500L + ids.length - 1)
    assert(ids.distinct.length == ids.length)
  }

  test("batchWithinPartitions bounds every batch and preserves items") {
    val df = Tables.lineitemDf.select("l_returnflag", "l_orderkey")
    val batched = BatchOps.batchWithinPartitions(df, Seq("l_returnflag"), "l_orderkey", 50)
    val rows = batched.select($"batch_size", size($"items").as("n")).collect()
    assert(rows.forall(r => r.getInt(0) <= 50 && r.getInt(0) == r.getInt(1)))
    val total = rows.map(_.getInt(0).toLong).sum
    assert(total == df.count())
  }

  test("batchWithinPartitions invariants survive ANY physical layout") {
    // A6 semantics are layout-dependent (which rows share a batch), but
    // its INVARIANTS must not be: cap respected, batch_size = |items|,
    // union of batches = input multiset. Perturb the layout four ways.
    val df = Tables.lineitemDf.select("l_returnflag", "l_orderkey")
    val expectTotal = df.count()
    val expectSum = df.agg(sum($"l_orderkey")).head().getLong(0)
    val layouts = Seq(
      "single" -> df.coalesce(1),
      "hash13" -> df.repartition(13, xxhash64($"l_orderkey")),
      "range" -> df.repartitionByRange(5, $"l_orderkey"),
      "sorted" -> df.repartition(3).sortWithinPartitions($"l_returnflag"))
    for ((label, laid) <- layouts) {
      val batched = BatchOps.batchWithinPartitions(
        laid, Seq("l_returnflag"), "l_orderkey", 50)
      val stats = batched.agg(
        max($"batch_size").as("mx"), min($"batch_size").as("mn"),
        max(abs($"batch_size" - size($"items"))).as("szdiff"),
        sum($"batch_size").cast("long").as("total"),
        sum(expr("aggregate(items, 0L, (a, x) -> a + x)")).as("isum")
      ).head()
      assert(stats.getInt(0) <= 50, s"$label: cap violated")
      assert(stats.getInt(1) >= 1, s"$label: empty batch")
      assert(stats.getInt(2) == 0, s"$label: batch_size != |items|")
      assert(stats.getLong(3) == expectTotal, s"$label: items lost/duped")
      assert(stats.getLong(4) == expectSum, s"$label: item values mutated")
    }
  }

  test("joinOtherToSingleColumn packs non-key cols into one struct") {
    val left = Seq((1, "l1"), (2, "l2")).toDF("k", "lv")
    val right = Seq((1, "r1", 10), (2, "r2", 20)).toDF("k", "rv", "rn")
    val joined = JoinOps.joinOtherToSingleColumn(left, right, "k", "inner", "ent")
    assert(joined.columns.toSeq == Seq("k", "lv", "ent"))
    val r = joined.where($"k" === 1).select($"ent.rv", $"ent.rn").head()
    assert(r.getString(0) == "r1" && r.getInt(1) == 10)
  }

  test("fillEmptyArray fills null arrays only") {
    val df = Seq((1, Seq("a")), (2, null.asInstanceOf[Seq[String]]))
      .toDF("id", "arr")
    val out = df.select($"id",
      size(ColumnOps.fillEmptyArray($"arr", "string")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out(1) == 1 && out(2) == 0)
  }

  private object Tables {
    def customer = graft.core.Tables.customer(spark, sfDir)
    def lineitemDf = graft.core.Tables.lineitem(spark, sfDir)
  }
}
