package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (lazy, reused across tests). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Scratch dirs the engine makes (`graft-*`), plus the `temporary-*`
    * checkpoints Spark makes for a stream that names none: a snapshot
    * before and after a failing call shows what it leaked. */
  def scratchDirs: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
      .filter(n => n.startsWith("graft-") || n.startsWith("temporary-"))
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession(4)
}
