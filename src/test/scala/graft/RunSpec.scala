package graft

import java.io.ByteArrayOutputStream

import graft.tools.Run

/** Calls each [[Run]] mode on the shared session at sf0.001. */
class RunSpec extends SparkTestBase {

  private def printed(body: => Unit): String = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("each mode reports on one query: time, explain, plan, stream and skew") {
    val q01 = SparkEntry.resolve(Seq("q01"))
    assert(printed(Run.time(spark, sf, q01)).trim.matches("q01_flag_share_count: \\d+\\.\\d{3} s"))
    assert(printed(Run.explain(spark, sf, q01)).contains("== Physical Plan =="))
    val plans = printed(Run.plan(spark, sf, q01))
    assert(plans.contains("---- [0] ") && plans.contains("isFinalPlan=true"), plans)
    val batches = printed(Run.stream(spark, sf, SparkEntry.resolve(Seq("q27"))))
    assert(batches.contains("batch 0 triggerExecution=") &&
      batches.contains("TOTAL batches=") && !batches.contains("TOTAL batches=0 "), batches)
    val skew = printed(Run.skew(spark, sf))
    Seq("events_join_user_id: rows=", "lineitem_join_supplier: rows=").foreach { p =>
      assert(skew.contains(p), skew)
    }
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "the skew thresholds stay on skew's own session")
  }

  test("a failing query is reported, the rest still run, and the mode then throws naming it") {
    val boom: SparkEntry.Query = (_, _) => throw new IllegalStateException("boom")
    val buf = new ByteArrayOutputStream
    val e = intercept[RuntimeException] {
      Console.withOut(buf)(Run.time(spark, sf, Seq("broken" -> boom) ++ SparkEntry.resolve(Seq("q01"))))
    }
    assert(e.getMessage == "1 queries failed: broken")
    assert(buf.toString("UTF-8").contains("q01_flag_share_count: "))
  }
}
