package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; testdata at sf0.001 for speed. */
abstract class SparkSpecBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = graft.core.GraftSession.build(
    appName = getClass.getSimpleName, master = "local[4]")
}
