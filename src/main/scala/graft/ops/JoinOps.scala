package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join helpers (SURVEY.md §2.3).
  *
  * All reference joins are equi-joins; Spark's planner picks broadcast
  * vs shuffled hash vs sort-merge per side sizes (AQE re-plans at
  * runtime). The one structural idiom worth a named op is J3. */
object JoinOps {

  /** J3 (`join_other_to_single_column`
    * hive_metastore_migration.py:211-225): pack the other side's
    * non-key columns into ONE struct column named `structName`, then
    * join on `on`. Keeps the left schema flat while attaching a whole
    * entity — the reference uses it to attach storageDescriptor /
    * serdeInfo documents. Dimension sides here are typically small:
    * marking them broadcast-able is the caller's choice via
    * `broadcast(other)` before the call. */
  def joinOtherToSingleColumn(df: DataFrame, other: DataFrame, on: String,
                              how: String, structName: String): DataFrame = {
    val payloadCols = other.columns.toSeq.filter(_ != on).map(col)
    val packed = other.select(col(on), struct(payloadCols: _*).as(structName))
    df.join(packed, Seq(on), how)
  }
}
