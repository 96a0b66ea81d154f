package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join (nearest earlier match per key), composed from built-ins
  * per the custom-operator preference order (compose > custom plan):
  * tag both sides, union, ONE per-key time-ordered window with a
  * null-ignoring last() carry-forward, keep left rows.
  *
  * Scale shape: a single shuffle on the key (the union sorts within
  * partitions) — strictly cheaper than any join formulation, which
  * would shuffle both sides AND need a range predicate. Equal
  * timestamps on the right side must be deduplicated by the caller for
  * deterministic results (the gate query keeps max id per ts).
  */
object AsOfJoin {

  /** For each left row, attach the payload of the latest right row with
    * rightTs <= leftTs for the same key. Output = left columns +
    * `matchedCol` (nullable payload of the matched right row). */
  def asofBackward(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, payloadCol: String,
                   matchedCol: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(right.schema(payloadCol).dataType))
    val r = right.select(col(keyCol), col(tsCol),
        col(payloadCol).as("__payload"))
      .withColumn("__side", lit(0))
    val leftCols = left.columns.toSeq
    val unioned = l.select(
      (leftCols.map(col) :+ col("__side") :+ col("__payload")): _*)
      .unionByName(r.select(
        (leftCols.map(c => if (c == keyCol || c == tsCol) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          :+ col("__side") :+ col("__payload")): _*))
    // right rows sort BEFORE left rows at equal ts (side 0 < 1), so a
    // same-instant right row is visible to the left row (<= semantics)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn(matchedCol, last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__side", "__payload")
  }

  /** NEAREST-match as-of join (pandas merge_asof direction='nearest'):
    * each left row gets the payload of the right row minimizing the
    * absolute timestamp distance, subject to `toleranceUs`; an exact
    * distance tie prefers the BACKWARD (earlier) match, pinning
    * determinism. Same single-shuffle union shape as asofBackward with
    * one extra (forward) window frame — still strictly cheaper than a
    * range join. Candidate (ts, payload) pairs travel as one struct so
    * distance and payload stay consistent. Same-instant right rows are
    * visible to the backward carry (right sorts before left at equal
    * ts) and win at distance 0. Right side must be deduplicated per
    * (key, ts) by the caller, as with asofBackward. */
  def asofNearest(left: DataFrame, right: DataFrame, keyCol: String,
                  tsCol: String, payloadCol: String,
                  matchedCol: String, toleranceUs: Long): DataFrame = {
    val payloadType = right.schema(payloadCol).dataType
    val l = left.withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val r = right.select(col(keyCol), col(tsCol),
        col(payloadCol).as("__payload"))
      .withColumn("__side", lit(0))
    val leftCols = left.columns.toSeq
    val unioned = l.select(
      (leftCols.map(col) :+ col("__side") :+ col("__payload")): _*)
      .unionByName(r.select(
        (leftCols.map(c => if (c == keyCol || c == tsCol) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          :+ col("__side") :+ col("__payload")): _*))
      .withColumn("__us", left.schema(tsCol).dataType match {
        // numeric ts columns are taken as-is (tolerance in their units)
        case _: org.apache.spark.sql.types.TimestampType =>
          unix_micros(col(tsCol))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col(tsCol).cast("timestamp"))
        case _ => col(tsCol).cast("long")
      })
      .withColumn("__cand", when(col("__side") === 0,
        struct(col("__us").as("us"), col("__payload").as("p"))))
    val bwW = Window.partitionBy(keyCol)
      .orderBy(col("__us"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward carry as a reversed-order RUNNING frame — a (currentRow,
    // unboundedFollowing) frame is re-aggregated per row by Spark
    // (O(n²) per key); last() over the DESC order is O(n). At equal
    // __us, side DESC puts the left row (side 1) before right rows, so
    // a same-instant right row stays OUT of the left row's forward
    // frame (it is caught backward at distance 0), matching the
    // ascending formulation exactly.
    val fwW = Window.partitionBy(keyCol)
      .orderBy(col("__us").desc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bw = last(col("__cand"), ignoreNulls = true).over(bwW)
    val fw = last(col("__cand"), ignoreNulls = true).over(fwW)
    val bwDist = col("__us") - col("__bw.us")
    val fwDist = col("__fw.us") - col("__us")
    unioned
      .withColumn("__bw", bw)
      .withColumn("__fw", fw)
      .where(col("__side") === 1)
      .withColumn("__bwOk", col("__bw").isNotNull && bwDist <= toleranceUs)
      .withColumn("__fwOk", col("__fw").isNotNull && fwDist <= toleranceUs)
      .withColumn(matchedCol,
        when(col("__bwOk") && (!col("__fwOk") || bwDist <= fwDist),
          col("__bw.p"))
          .when(col("__fwOk"), col("__fw.p")))
      .select((leftCols.map(col) :+ col(matchedCol)): _*)
  }
}
