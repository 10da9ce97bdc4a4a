package graft

import org.scalatest.funsuite.AnyFunSuite

class ResolveSpec extends AnyFunSuite {

  test("a short name and its full name resolve to the same entry; a typo throws") {
    val Seq((short, shortFn), (full, fullFn)) = SparkEntry.resolve(Seq("q05", "q05_join_agg"))
    assert(short == "q05_join_agg" && full == "q05_join_agg")
    assert(shortFn eq fullFn)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.resolve(Seq("q01", "q05_join_agx", "q9999"))
    }
    assert(e.getMessage.contains("q05_join_agx") && e.getMessage.contains("q9999"))
    assert(!e.getMessage.contains("q01"))
  }
}
