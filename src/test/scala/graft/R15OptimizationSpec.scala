package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{DistRank, Scope}

/** Round-15 optimization pins: the binary-search bucket assignment must
  * equal the interpreted fold it replaced (duplicates, nulls, empty
  * cuts included), ranks must be invariant to the derived bucket count,
  * and every memoized chunk carve must partition its source exactly,
  * with pinned chunk order, and be built once. */
class R15OptimizationSpec extends SparkTestBase {

  test("bucketIndexExpr equals the interpreted aggregate() fold on " +
    "duplicate-laden cuts, and routes a NULL key to bucket 0") {
    import spark.implicits._
    // keys straddling the cuts, plus a null; cuts deliberately contain
    // duplicates (percentile_approx emits them on low-cardinality keys)
    val cuts: IndexedSeq[Any] = IndexedSeq(10L, 10L, 20L, 30L, 30L, 30L, 40L)
    val df = (Seq[java.lang.Long](Long.MinValue, 5L, 10L, 11L, 20L, 25L,
      30L, 31L, 40L, 41L, Long.MaxValue) :+ null.asInstanceOf[java.lang.Long])
      .toDF("k")
      .withColumn("__cuts", typedlit(cuts.map(_.asInstanceOf[Long])))
    val both = df.select($"k",
      DistRank.bucketIndexExpr($"k", cuts).as("tree"),
      expr("aggregate(__cuts, 0, (a, c) -> a + IF(k > c, 1, 0))").as("fold"))
      .collect()
    both.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"key=${r.get(0)}")
      if (r.isNullAt(0)) assert(r.getInt(1) === 0, "null key must land in bucket 0")
    }
    // empty cut set: every row in bucket 0 (single-bucket degenerate)
    val empty = df.select(DistRank.bucketIndexExpr($"k", IndexedSeq.empty).as("b"))
      .agg(max($"b"), min($"b")).head()
    assert(empty.getInt(0) === 0 && empty.getInt(1) === 0)
  }

  test("ranks are invariant to the derived bucket count (rowsPerBucket " +
    "sweep) and match the global window reference") {
    import spark.implicits._
    val df = graft.engine.Tables.orders(spark, sf)
      .select($"o_orderkey".as("ok"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("k"))
    val reference = df
      .withColumn("rk", row_number().over(Window.orderBy($"k", $"ok")).cast("long"))
      .orderBy($"ok").collect().map(r => (r.getLong(0), r.getLong(2)))
    Scope.run { s =>
      for (target <- Seq("64", "999999999999")) { // many buckets vs floor-16
        s.conf(spark, DistRank.RowsPerBucketConf -> target)
        val got = DistRank.withRank(df, "k", "ok", "rk", desc = false)
          .orderBy($"ok").collect().map(r => (r.getLong(0), r.getLong(2)))
        assert(got.toSeq === reference.toSeq, s"rowsPerBucket=$target")
      }
    }
  }

  test("Tables.table schema memo serves the footer schema on a repeat " +
    "read and re-infers when the fixture is rewritten in place") {
    import spark.implicits._
    val dir = graft.engine.TempIo.createTempDir("graft-schemamemo-")
    try {
      val path = s"$dir/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .coalesce(1).write.mode("overwrite").parquet(path)
      val first = graft.engine.Tables.table(spark, dir, "t")
      val second = graft.engine.Tables.table(spark, dir, "t")
      assert(second.schema === first.schema)
      assert(second.as[(Long, String)].collect().sorted ===
        Seq((1L, "a"), (2L, "b")))
      // in-place rewrite with a DIFFERENT schema: the stamp (mtimes +
      // lengths) moves, so the memo must re-infer instead of serving
      // the stale StructType — the fixture-drift hazard the stamp is for
      Seq((1L, 2.5), (2L, 3.5), (3L, 4.5)).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(path)
      new java.io.File(path).setLastModified(System.currentTimeMillis() + 2000)
      val third = graft.engine.Tables.table(spark, dir, "t")
      assert(third.schema.fieldNames.toSeq === Seq("id", "v"))
      assert(third.count() === 3)
    } finally graft.engine.TempIo.deleteRecursively(dir)
  }

  /** One case per [[graft.streaming.Carve]]: the carve's memo name, a
    * call that returns its dir, its chunk count, and the ids of the
    * source rows it cuts (with the id column's name). */
  private case class CarveCase(name: String, carve: () => String, chunks: Int,
      idCol: String, sourceIds: () => Seq[Long])

  test("memoized pmod carve partitions events exactly and serves the " +
    "same directory on a second call") {
    import spark.implicits._
    import graft.streaming.Streaming
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).as[Long].collect().toSeq.sorted
    val eventIds = () => ids(graft.engine.Tables.events(spark, sf), "event_id")
    val cases = Seq(
      CarveCase("pmodChunks", () => Streaming.pmodChunks(spark, sf), 4, "event_id", eventIds),
      CarveCase("timeQuarterChunks", () => Streaming.timeQuarterChunks(spark, sf), 4,
        "event_id", eventIds),
      CarveCase("disorderedChunks", () => Streaming.disorderedChunks(spark, sf), 4,
        "event_id", eventIds),
      // q228's single chunk holds every row
      CarveCase("corruptedChunk", () => Streaming.corruptedChunk(spark, sf), 1,
        "event_id", eventIds),
      CarveCase("annQueryChunks", () => graft.engine.Similarity.annQueryChunks(spark, sf), 3,
        "vec_id", () => ids(graft.engine.Tables.embeddings(spark, sf)
          .filter($"vec_id" % graft.engine.Similarity.Q241QueryMod === 0), "vec_id")))
    cases.foreach { c =>
      val d1 = c.carve()
      assert(c.carve() === d1, s"${c.name}: second call must hit the memo")
      assert(graft.engine.MemoTrace.log.count(_._1 == s"${c.name}($sf)") === 1,
        s"${c.name}: built more than once")
      val files = (1 to c.chunks).map(i => new java.io.File(s"$d1/chunk$i.parquet"))
      val chunkIds = files.map(f => ids(spark.read.parquet(f.getPath), c.idCol))
      assert(chunkIds.forall(_.nonEmpty), s"${c.name}: an empty chunk")
      assert(chunkIds.flatten.sorted === c.sourceIds(),
        s"${c.name}: chunks must partition the source rows exactly")
      val mtimes = files.map(_.lastModified())
      assert(mtimes.zip(mtimes.drop(1)).forall { case (a, b) => a < b },
        s"${c.name}: chunk mtimes must strictly increase with the index: $mtimes")
    }
    // pmod chunk i holds exactly the event_id % 4 == i-1 slice
    val pmod = Streaming.pmodChunks(spark, sf)
    (1 to 4).foreach { i =>
      val ids = spark.read.parquet(s"$pmod/chunk$i.parquet")
        .select($"event_id").collect().map(_.getLong(0))
      assert(ids.forall(_ % 4 == i - 1), s"chunk$i membership")
    }
  }
}
