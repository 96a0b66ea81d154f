package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** In-engine byte-pair-encoding TRAINER (Sennrich et al. 2016): learn
  * the first N merge rules from a corpus — the step that produces a
  * tokenizer, not just applies one. Each round finds the most frequent
  * adjacent symbol pair (weighted by word frequency) and merges every
  * left-to-right non-overlapping occurrence, exactly the reference BPE
  * algorithm.
  *
  * Representation is a POSITIONAL SYMBOL TABLE (word, freq, pos, tok)
  * rather than re-encoded strings: the merge step is then two windows
  * partitioned by word (lead() for the pair, lag() for the consumed
  * row) plus a renumber — all vocabulary-sized, no string surgery, and
  * the exact same relational program replays in any engine with window
  * functions (the oracle unrolls it per round). The only subtle case
  * is a SELF-pair merge (x = y, e.g. 'l l' in "hello"-like runs): BPE
  * merges runs greedily left-to-right, so within each maximal run of x
  * only the 1st, 3rd, … adjacencies merge — pinned with a
  * gaps-and-islands run id and an odd-offset rule, identically on both
  * sides.
  *
  * Scale shape per round: one vocabulary aggregation for the pair
  * counts (partial-aggregable), a 1-ROW argmax collect (k-bounded,
  * inherent to iterative training — same discipline as the k-means
  * replay), and per-word windows whose partitions are word-length
  * sized. Each round's symbol table is persisted so round r+1 doesn't
  * recompute the whole chain, and every cached frame is released
  * before returning (the KCore lesson).
  */
object BpeTrainer {

  /** Learn `rounds` merges from whitespace-tokenized lowercase words
    * (pure-alpha words only — punctuation noise would pollute the
    * symbol alphabet). Returns (round, merged, pair_count) with
    * `merged` = the concatenated new symbol, deterministic tie-break
    * (count DESC, left ASC, right ASC). */
  def train(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (merges, _, cached) = run(docs, textCol, rounds)
    cached.foreach(_.unpersist(blocking = false))
    merges
  }

  /** Train ONCE and materialize both artifacts — the merge table to
    * `mergesPath`, the final symbol table to `vPath` — releasing every
    * cached round frame. The train/apply gate pair previously each
    * re-ran the full 10-round loop (2× ~6 s at sf0.1); sharing the
    * materialized artifacts the way the graph gates share their edge
    * fixture halves that (training a tokenizer and then segmenting
    * with it IS one pipeline — the artifact handoff is the production
    * shape too). Returns the two written schemas, so a reader needs no
    * inference job. */
  def trainArtifacts(docs: DataFrame, textCol: String, rounds: Int,
                     mergesPath: String, vPath: String)
      : (StructType, StructType) = {
    val (merges, finalV, cached) = run(docs, textCol, rounds)
    merges.write.mode("overwrite").parquet(mergesPath)
    finalV.write.mode("overwrite").parquet(vPath)
    cached.foreach(_.unpersist(blocking = false))
    (merges.schema, finalV.schema)
  }

  private def run(docs: DataFrame, textCol: String,
                  rounds: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val spark = docs.sparkSession
    val words = docs
      .select(explode(expr(
        s"filter(split(trim(lower($textCol)), '\\\\s+'), x -> x != '')"))
        .as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    var v = words.select(col("w"), col("f"), explode(expr(
        "transform(sequence(1, length(w))," +
          " i -> named_struct('pos', i, 'tok', substring(w, i, 1)))"))
        .as("e"))
      .select(col("w"), col("f"), col("e.pos").as("pos"), col("e.tok").as("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cached = ArrayBuffer[DataFrame](v)
    val merges = ArrayBuffer.empty[(Int, String, Long)]
    val byWord = Window.partitionBy("w").orderBy("pos")
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val withNext = v.withColumn("nxt", lead(col("tok"), 1).over(byWord))
      val top = withNext.where(col("nxt").isNotNull)
        .groupBy("tok", "nxt").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("tok"), col("nxt"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (x, y, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, x + y, cnt))
        val isX = col("tok") === x
        val t = withNext
          .withColumn("runid", when(isX, col("pos") -
            row_number().over(Window.partitionBy(col("w"), isX).orderBy("pos"))))
          .withColumn("off", when(col("runid").isNotNull,
            row_number().over(
              Window.partitionBy(col("w"), col("runid")).orderBy("pos"))))
          .withColumn("m", col("tok") === x && col("nxt") === y &&
            (lit(x != y) || col("off") % 2 === 1))
          .withColumn("lm",
            coalesce(lag(col("m"), 1).over(byWord), lit(false)))
        val nv = t.where(!col("lm"))
          .withColumn("ntok",
            when(col("m"), concat(col("tok"), col("nxt"))).otherwise(col("tok")))
          .withColumn("npos", row_number().over(byWord))
          .select(col("w"), col("f"), col("npos").as("pos"),
            col("ntok").as("tok"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        cached += nv
        v = nv
        r += 1
      }
    }
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map { case (rr, mtok, c) => Row(rr, mtok, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("merged",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType, nullable = false))))
    (out, v, cached.toSeq)
  }
}
