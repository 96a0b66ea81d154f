package graft

import org.apache.spark.sql.functions._
import graft.catalog._

/** Invariants of the reverse migration that the flat e2e gate can't
  * express directly: id continuation above the existing metastore,
  * FK closure of the generated tables, and the skewed string-list
  * codec roundtrip. */
class ReverseMigrationSpec extends SparkSpecBase {

  private lazy val f = new CatalogFixtures.Bundle(spark, sfDir)
  private lazy val starts = ReverseMigration.startIds(f)

  private lazy val rel: Map[String, org.apache.spark.sql.DataFrame] =
    ReverseMigration.transform(
      f.databasesT.drop("DB_ID"), f.tablesWithSkewT.drop("TBL_ID"),
      f.partitionsWithSdT.drop("PART_ID"), starts)

  test("all 19 metastore tables are produced in FK write order") {
    assert(ReverseMigration.writeOrder.size == 19)
    assert(ReverseMigration.writeOrder.toSet == rel.keySet)
  }

  test("FK levels respect every parent edge and compress 19 jobs to 5 barriers") {
    val lv = graft.sources.JdbcIO.fkLevels(
      ReverseMigration.writeOrder, ReverseMigration.fkParents)
    // every child strictly after all its parents
    ReverseMigration.fkParents.foreach { case (child, parents) =>
      parents.foreach(p => assert(lv(child) > lv(p),
        s"$child (level ${lv(child)}) must load after $p (level ${lv(p)})"))
    }
    // the flat writeOrder is one valid linearization of the graph:
    // levels must be monotone along it for parent/child pairs (already
    // implied above) and the graph must collapse to 5 levels
    assert(lv.values.max == 4, s"expected 5 levels, got ${lv.values.max + 1}")
    assert(lv.keySet == ReverseMigration.writeOrder.toSet)
    // a cycle is a caller error
    intercept[IllegalArgumentException] {
      graft.sources.JdbcIO.fkLevels(Seq("A", "B"),
        Map("A" -> Seq("B"), "B" -> Seq("A")))
    }
  }

  test("generated ids continue consecutively above the existing max") {
    def ids(t: String, c: String): Seq[Long] =
      rel(t).select(col(c).cast("long")).collect().map(_.getLong(0)).toSeq.sorted
    val dbIds = ids("DBS", "DB_ID")
    val dbStart = starts("DB_ID")
    assert(dbIds == (dbStart until dbStart + dbIds.size))
    val tblIds = ids("TBLS", "TBL_ID")
    val tblStart = starts("TBL_ID")
    assert(tblIds == (tblStart until tblStart + tblIds.size))
    val sdIds = ids("SDS", "SD_ID")
    val sdStart = starts("SD_ID")
    assert(sdIds == (sdStart until sdStart + sdIds.size))
    val partIds = ids("PARTITIONS", "PART_ID")
    val partStart = starts("PART_ID")
    assert(partIds == (partStart until partStart + partIds.size))
  }

  test("startIds continue above each existing id column; an empty table starts at 0") {
    def next(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    assert(starts == Map(
      "DB_ID" -> next(f.dbs, "DB_ID"), "TBL_ID" -> next(f.tbls, "TBL_ID"),
      "SD_ID" -> next(f.sds, "SD_ID"), "CD_ID" -> next(f.sds, "CD_ID"),
      "SERDE_ID" -> next(f.sds, "SERDE_ID"),
      "PART_ID" -> next(f.partitionsRel, "PART_ID"),
      "STRING_LIST_ID_KID" -> next(f.skewedLocMap, "STRING_LIST_ID_KID")))
    val full = f
    val noSds = new CatalogFixtures.Bundle(spark, sfDir) {
      override lazy val sds = full.sds.limit(0)
    }
    val fresh = ReverseMigration.startIds(noSds)
    assert(Seq("SD_ID", "CD_ID", "SERDE_ID").map(fresh) == Seq(0L, 0L, 0L))
    assert(fresh - "SD_ID" - "CD_ID" - "SERDE_ID" ==
      starts - "SD_ID" - "CD_ID" - "SERDE_ID")
  }

  test("FK closure: every child id resolves to a parent row") {
    def orphanCount(child: String, key: String, parent: String): Long =
      rel(child).join(rel(parent), Seq(key), "left_anti").count()
    assert(orphanCount("TBLS", "DB_ID", "DBS") == 0)
    assert(orphanCount("TBLS", "SD_ID", "SDS") == 0)
    assert(orphanCount("PARTITIONS", "TBL_ID", "TBLS") == 0)
    assert(orphanCount("PARTITIONS", "SD_ID", "SDS") == 0)
    assert(orphanCount("COLUMNS_V2", "CD_ID", "CDS") == 0)
    assert(orphanCount("SKEWED_COL_NAMES", "SD_ID", "SDS") == 0)
    assert(orphanCount("SKEWED_COL_VALUE_LOC_MAP", "SD_ID", "SDS") == 0)
    assert(rel("SKEWED_STRING_LIST_VALUES")
      .join(rel("SKEWED_STRING_LIST"), Seq("STRING_LIST_ID"), "left_anti")
      .count() == 0)
  }

  test("skewed string lists roundtrip through the encode/F6-decode codec") {
    // original values (id-agnostic): one (region, idx) → value mapping
    val orig = f.skewedVals.select("STRING_LIST_VALUE", "INTEGER_IDX")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val back = rel("SKEWED_STRING_LIST_VALUES")
      .select(col("STRING_LIST_VALUE"), col("INTEGER_IDX"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(back == orig, s"decoded values $back != original $orig")
  }
}
