package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Relational31, Tables}

/** Wave 41 (q271–q273): SCD2 interval build, grouped OLS from exact
  * moments, tokenizer fertility. Invariants the row-hash oracle gate
  * cannot see: interval-algebra laws for the SCD2 build, the centroid
  * and perfect-fit laws for the regression, and byte/char ordering for
  * the fertility audit. */
class Wave41Spec extends SparkTestBase {

  test("q271 SCD2 intervals: one open interval per changed user, disjoint coverage, collapse works") {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val changes = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id",
        (graft.engine.Exact.cents($"value") % 3).as("tier"))
      .withColumn("prev_tier", lag($"tier", 1).over(byUser))
      .filter($"prev_tier".isNull || $"tier" =!= $"prev_tier")
    // collapse really collapses: no surviving row repeats its predecessor
    assert(changes.filter($"tier" === $"prev_tier").count() === 0)
    val iv = changes
      .withColumn("from_us", unix_micros($"ts"))
      .withColumn("to_us", lead(unix_micros($"ts"), 1).over(byUser))
    // exactly one open interval per user that has any change
    val openPerUser = iv.groupBy($"user_id")
      .agg(count(when($"to_us".isNull, 1)).as("n_open"))
    assert(openPerUser.filter($"n_open" =!= 1).count() === 0)
    // intervals are disjoint and ordered: to_us is the NEXT from_us
    val overlap = iv.withColumn("next_from",
        lead($"from_us", 1).over(byUser))
      .filter($"to_us".isNotNull && $"to_us" =!= $"next_from")
    assert(overlap.count() === 0, "each closed interval must end exactly " +
      "where the next begins — no gaps, no overlaps")
    // the audit's n_current equals the number of users with >=1 change
    val audited = Relational31.q271Scd2Build(spark, sf)
      .agg(sum($"n_current")).head().getLong(0)
    assert(audited === changes.select($"user_id").distinct().count())
  }

  test("q272 regression passes through the group centroid and nails a perfect line") {
    import spark.implicits._
    // centroid law: intercept + slope * mean(x) == mean(y) (exact in the
    // fitted doubles up to the published rounding)
    val base = Tables.events(spark, sf)
      .agg(min(expr("unix_micros(ts) div 3600000000")).as("h0"))
    val pts = Tables.events(spark, sf)
      .select($"event_type",
        expr("unix_micros(ts) div 3600000000").as("h"),
        graft.engine.Exact.cents($"value").as("y"))
      .crossJoin(broadcast(base))
      .withColumn("x", $"h" - $"h0")
    val centroids = pts.groupBy($"event_type")
      .agg((sum($"x") / count(lit(1))).as("mx"),
        (sum($"y") / count(lit(1))).as("my"))
    val joined = Relational31.q272GroupOls(spark, sf)
      .join(centroids, "event_type")
      .select($"event_type",
        abs($"intercept_cents" + $"slope_cents_per_h" * $"mx" - $"my")
          .as("err"))
      .collect()
    joined.foreach { r =>
      assert(r.getDouble(1) < 1e-4,
        s"${r.getString(0)}: centroid residual ${r.getDouble(1)}")
    }
    // perfect-fit law on a synthetic exact line y = 7x + 40 — the same
    // moment arithmetic must recover the coefficients exactly
    val line = spark.range(0, 1000)
      .select(lit("synth").as("event_type"), $"id".as("x"),
        ($"id" * 7 + 40).as("y"))
    val m = line.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select((($"n" * $"sxy" - $"sx" * $"sy") /
        ($"n" * $"sxx" - $"sx" * $"sx")).as("slope"))
      .head()
    assert(m.getDouble(0) === 7.0)
  }

  test("q274 timers: fired set non-empty, withheld set exact, sessions partition the log") {
    import spark.implicits._
    import graft.streaming.Streaming
    val emitted = Streaming.q274TimerSessions(spark, sf)
      .select($"user_id", $"n_events", $"start_us", $"end_us").cache()
    // batch ground truth: 30-min-gap sessions over the same events
    val byUser = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val sess = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
      .withColumn("new_s", when(lag($"tus", 1).over(byUser).isNull ||
        $"tus" - lag($"tus", 1).over(byUser) > Streaming.TimerGapUs, 1L)
        .otherwise(0L))
      .withColumn("sid", sum($"new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"),
        min($"tus").as("start_us"), max($"tus").as("end_us"))
    val wmMs = Tables.events(spark, sf)
      .agg((max(unix_micros($"ts")) / 1000 -
        Streaming.TimerDelayHours * 3600000L).cast("long")).head().getLong(0)
    // every emitted row is a true session; the withheld rows are exactly
    // the still-open ones (last per user, expiry >= final watermark)
    val sessProj = sess.select($"user_id", $"n_events", $"start_us", $"end_us")
    assert(emitted.exceptAll(sessProj).isEmpty,
      "emitted sessions must all be true batch sessions")
    val withheld = sessProj.exceptAll(emitted)
    val lastPerUser = sess
      .withColumn("mx", max($"sid").over(Window.partitionBy($"user_id")))
      .filter($"sid" === $"mx")
      .select($"user_id", $"n_events", $"start_us", $"end_us")
    assert(withheld.exceptAll(lastPerUser).isEmpty,
      "only a user's LAST session may be withheld")
    assert(withheld
      .filter($"end_us" / 1000 + Streaming.TimerGapMs < wmMs).count() === 0,
      "a session whose expiry fell below the final watermark must have fired")
    // timer-closure evidence is only externally visible when some user
    // is absent from the final delay window (none are at sf0.001 — the
    // synthetic test below forces the firing deterministically instead)
    val absentees = lastPerUser
      .filter($"end_us" / 1000 + Streaming.TimerGapMs < wmMs).count()
    if (absentees > 0)
      assert(emitted.intersect(lastPerUser).count() === absentees,
        "every abandoned last session must be closed by its timer")
    emitted.unpersist()
  }

  test("q274 timer machinery fires deterministically on a crafted two-chunk stream") {
    import spark.implicits._
    import graft.streaming.Streaming
    val src = graft.engine.TempIo.createTempDir("graft-timer-spec-")
    try {
      // chunk1: user 1 has a 2-event session on day 0 then goes silent;
      // chunk2: user 2 appears on day 20. Final watermark = day 20 − 8 d
      // = day 12 > user 1's expiry ⇒ its session MUST be emitted by the
      // timer (no later event exists to close it); user 2's stays open.
      val day0 = 1704067200000000L // 2024-01-01T00:00Z in epoch-μs
      def writeChunk(i: Int, rows: Seq[(Long, Long, Long)]): Unit = {
        val stage = s"$src/stage$i"
        rows.toDF("event_id", "tus", "user_id")
          .select($"event_id", timestamp_micros($"tus").as("ts"), $"user_id",
            lit(1.0).as("value"))
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(s"$src/chunk$i.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        graft.engine.TempIo.deleteRecursively(stage)
      }
      writeChunk(1, Seq((1L, day0, 1L), (2L, day0 + 600000000L, 1L)))
      writeChunk(2, Seq((3L, day0 + 20L * 86400000000L, 2L)))
      val chunkSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val out = Streaming.withStatePartitions(spark)(Streaming.withRocksDb(spark) {
        val sessions = spark.readStream
          .schema(chunkSchema)
          .option("pathGlobFilter", "chunk*.parquet")
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
          .withWatermark("ts", s"${Streaming.TimerDelayHours} hours")
          .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new Streaming.TimerSessionProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append(),
            implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Long)]])
        val q = sessions.toDF("user_id", "n_events", "start_us", "end_us")
          .writeStream.outputMode("append").format("memory")
          .queryName("timer_spec") // 1-row bounded test frame
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("timer_spec").collect()
      })
      assert(out.length === 1, s"exactly user 1's session fires: ${out.toSeq}")
      val r = out.head
      assert(r.getLong(0) === 1L && r.getLong(1) === 2L &&
        r.getLong(2) === day0 && r.getLong(3) === day0 + 600000000L,
        s"timer must emit the abandoned 2-event session verbatim, got $r")
    } finally graft.engine.TempIo.deleteRecursively(src)
  }

  test("q273 fertility: bytes >= chars, every ratio positive, doc totals conserved") {
    import spark.implicits._
    val f = Relational31.q273TokenizerFertility(spark, sf)
    assert(f.filter($"n_bytes" < $"n_chars").count() === 0,
      "UTF-8 byte length is never below character length")
    assert(f.filter($"bytes_per_word" <= 0 || $"words_per_doc" <= 0)
      .count() === 0)
    val total = f.agg(sum($"n_docs")).head().getLong(0)
    assert(total === Tables.documents(spark, sf).count(),
      "every document lands in exactly one language row")
  }
}
