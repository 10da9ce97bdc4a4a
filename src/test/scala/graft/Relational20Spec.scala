package graft

import org.apache.spark.sql.functions._

import graft.engine.{Relational19, Relational20, Tables}

class Relational20Spec extends SparkTestBase {
  import spark.implicits._

  test("q196 equals the textbook double-correlated EXISTS/NOT-EXISTS form") {
    val got = Relational19.q196WaitingSupplier(spark, sf)
    // independent recomputation via two semi/anti self-joins — the form
    // the single-aggregation rewrite replaces
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey", ($"l_returnflag" === "R").as("marked"))
    val l1 = li.filter($"marked")
    val others = li.select($"l_orderkey", $"l_suppkey".as("o_supp"))
    val exists = l1.join(others,
        l1("l_orderkey") === others("l_orderkey") && $"l_suppkey" =!= $"o_supp",
        "left_semi")
    val markedOthers = li.filter($"marked")
      .select($"l_orderkey", $"l_suppkey".as("o_supp"))
    val notExists = exists.join(markedOthers,
        exists("l_orderkey") === markedOthers("l_orderkey") && $"l_suppkey" =!= $"o_supp",
        "left_anti")
    val fo = Tables.orders(spark, sf)
      .filter($"o_orderstatus" === "F").select($"o_orderkey")
    val sup = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    val want = notExists.join(fo, $"l_orderkey" === $"o_orderkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name").limit(100)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q197 sketch counts are exact for every surviving counter, at any shuffle width") {
    val rows = Relational20.q197FreqSketch(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("est_exact")),
      "hash-admission counters must carry exact counts")
    // order-free property: a different partitioning must yield the
    // identical sketch (the property textbook Misra-Gries lacks)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val single = Relational20.q197FreqSketch(spark, sf).collect()
      assert(single.toSeq == rows.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("FreqCounters keeps the k smallest hashes with exact counts") {
    val df = Seq.tabulate(1000)(i => (i.toLong % 97) * 7919L % 1009L)
      .toDF("hv")
    val got = df.agg(graft.functions.FreqCounters.freqCounters($"hv", 5).as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.hv".as("hv"), $"e.cnt".as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val exact = Seq.tabulate(1000)(i => (i.toLong % 97) * 7919L % 1009L)
      .groupBy(identity).map { case (h, occ) => (h, occ.size.toLong) }
    val want = exact.toSeq.sortBy(_._1).take(5)
    assert(got.toSeq == want)
  }

  test("q200 fact scan carries a dynamic partition pruning filter") {
    graft.engine.Scope.run { s =>
      val df = Relational20.q200Join(spark, sf, Relational20.writeDatePartitioned(spark, sf, s))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        "the dim subquery must prune the partitioned fact scan at runtime:\n" + p)
      // and the prune actually restricts the partition count: 5 of 30 days
      assert(df.collect().length == 5)
    }
  }

  test("q201 injects a runtime bloom filter on the shuffle-join fact side") {
    Relational20.q201Join(spark, sf) { df =>
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        "the selective dim side must seed a bloom filter into the fact scan:\n" + p)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the fixture must exercise the SHUFFLE-join regime bloom filters exist for")
      df
    }
    // conf scope must not leak: broadcast threshold restored afterwards
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }

  test("q198 restatements accumulate monotonically and converge to the corrected ledger") {
    val rows = Relational20.q198Bitemporal(spark, sf).collect()
    assert(rows.nonEmpty)
    val byWeek = rows.groupBy(_.getAs[String]("know_week")).toSeq.sortBy(_._1)
    assert(byWeek.size >= 3, "fixture must span several knowledge weeks")
    // per valid_day, n_restated never decreases as knowledge advances
    val days = rows.map(_.getAs[String]("valid_day")).distinct
    days.foreach { d =>
      val seq = byWeek.map(_._2.find(_.getAs[String]("valid_day") == d)
        .map(_.getAs[Long]("n_restated")).getOrElse(-1L)).filter(_ >= 0)
      assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
        s"restatement count regressed for valid_day $d")
    }
    // the final knowledge week equals the fully-corrected ledger
    val last = byWeek.last._2
    val cents = Tables.events(spark, sf).filter($"event_type" === "purchase")
      .select(graft.engine.Exact.cents($"value").as("c"), $"event_id")
      .agg((sum($"c") + sum(when($"event_id" % 11 === 0, 500L).otherwise(0L)))
        .as("total")).as[Long].head()
    assert(last.map(_.getAs[Long]("cents")).sum == cents,
      "final knowledge week must reflect every correction")
  }
}
