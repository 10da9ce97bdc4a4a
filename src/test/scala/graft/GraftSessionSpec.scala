package graft

/** Pins [[GraftSession]] as the only place a SparkSession is built, and
  * reads its settings back from the shared test session. */
class GraftSessionSpec extends SparkTestBase {

  test("src/main and src/test build sessions only in GraftSession.scala") {
    val files = Seq("src/main", "src/test").flatMap(SourceSweep.files).sortBy(_.getPath)
    assert(files.exists(_.getName == "GraftSession.scala"), "GraftSession.scala not found")
    // assembled so this file does not match itself
    val builder = Seq("SparkSession", "builder").mkString("\\.")
    val problems = for {
      f <- files if f.getName != "GraftSession.scala"
      (l, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toVector.zipWithIndex
      if builder.r.findFirstIn(l).isDefined
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(problems.isEmpty, "build sessions with GraftSession:\n" + problems.mkString("\n"))
  }

  test("the shared test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the UI must be off")
  }
}
