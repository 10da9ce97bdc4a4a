package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Multimodal, Tables}
import graft.streaming.Streaming

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("ingest writes date=/hour= partitioned parquet (T4 layout) with full row coverage") {
    val out = Files.createTempDirectory("graft-ingest-").toString
    try {
      Streaming.runIngest(spark, sf, out)
      val dateDirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("date="))
      assert(dateDirs.nonEmpty)
      val hourDirs = new java.io.File(s"$out/${dateDirs.head}").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(hourDirs.forall(_.startsWith("hour=")))
      val written = spark.read.parquet(out)
      assert(written.count() == Tables.events(spark, sf).count())
      // projection contract: key synthesized, props parsed
      assert(written.columns.toSet ==
        Set("key", "ts", "user_id", "event_type", "value", "k", "date", "hour"))
      assert(written.filter($"k".isNull).count() == 0)
    } finally graft.engine.TempIo.deleteRecursively(out)
  }

  test("q27 stream window equals the batch aggregation") {
    val streamed = Streaming.q27StreamWindow(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", $"ts").as("ws"), $"event_type")
      .agg(count(lit(1)).as("counts"),
        sum($"value".cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
      .orderBy($"ws", $"event_type")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("q28 stream dedup equals batch distinct") {
    val streamed = Streaming.q28StreamDedup(spark, sf)
    val batch = Tables.events(spark, sf).select($"user_id", $"event_type").distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
  }

  test("q40 streaming sessionize equals q39 batch sessionize") {
    val batch = graft.streaming.Sessionize.q39Sessionize(spark, sf)
    val streamed = graft.streaming.Sessionize.q40StreamSessionize(spark, sf)
    assert(batch.count() == streamed.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("q97 outer join: matched rows equal the inner join; null rows are unique flushed purchases") {
    val outer = graft.streaming.Streaming.q97StreamOuterJoin(spark, sf).collect()
    val inner = graft.streaming.Streaming.q42StreamStreamJoin(spark, sf).collect()
    val matched = outer.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(matched ==
      inner.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      "left-outer must contain exactly the inner join's matches")
    val nulls = outer.filter(_.isNullAt(2))
    assert(nulls.nonEmpty, "the drained stream must flush some unmatched purchases")
    assert(nulls.map(_.getLong(1)).distinct.length == nulls.length,
      "each flushed purchase is emitted null-padded exactly once")
    assert(nulls.forall(_.isNullAt(3)), "gap is null wherever the error side is null")
  }

  test("q195 outer-under-disorder: matched rows equal q194; null rows are unique closed-window purchases") {
    val outer = graft.streaming.Streaming.q195StreamOuterJoinDisorder(spark, sf).collect()
    val inner = graft.streaming.Streaming.q194StreamJoinDisorder(spark, sf).collect()
    val matched = outer.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(matched ==
      inner.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      "outer-under-disorder must contain exactly q194's surviving pairs")
    val nulls = outer.filter(_.isNullAt(2))
    assert(nulls.nonEmpty, "the drained stream must flush unmatched purchases")
    assert(nulls.map(_.getLong(1)).distinct.length == nulls.length,
      "each flushed purchase is emitted null-padded exactly once")
    val matchedP = matched.map(_._2)
    assert(nulls.forall(r => !matchedP.contains(r.getLong(1))),
      "a purchase is either matched or null-padded, never both")
  }

  test("q199 full-outer-under-disorder adds only the error-side flush to q195") {
    val full = graft.streaming.Streaming.q199StreamFullOuterDisorder(spark, sf).collect()
    val left = graft.streaming.Streaming.q195StreamOuterJoinDisorder(spark, sf).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))
    val fullSet = full.map(key).toSet
    val leftSet = left.map(key).toSet
    assert(leftSet.subsetOf(fullSet),
      "full outer must contain every left-outer row")
    val extra = full.filter(r => !leftSet.contains(key(r)))
    assert(extra.nonEmpty, "the drained stream must flush unmatched errors")
    assert(extra.forall(r => r.isNullAt(1) && !r.isNullAt(2) && r.isNullAt(3)),
      "every added row is a null-padded error")
  }

  test("q174's calibrated drop model equals the engine's own numRowsDroppedByWatermark") {
    import org.apache.spark.sql.streaming.Trigger
    val src = graft.streaming.Streaming.disorderedChunks(spark, sf)
    try {
      val agg = spark.readStream
        .schema(graft.streaming.Streaming.eventsNormSchema)
        .option("pathGlobFilter", "chunk*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("counts"))
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName("wm_metric")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val measured = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      // The q174 model's drop set, counted the way the METRIC counts:
      // the state store sits above the partial (map-side) aggregation,
      // so numRowsDroppedByWatermark counts dropped (window, type)
      // GROUPS per batch, not raw rows — derived by matching the
      // engine's per-batch metrics (141, 244 at sf0.001) exactly; the
      // raw-row count (147, 261) does NOT match. Same lag-2 watermark
      // and window-end gate as the calibrated q174 oracle. Scale
      // corollary: late data costs combined partials in the shuffle,
      // never raw-row volume.
      val ev = Tables.events(spark, sf)
        .select($"event_id", $"ts", $"event_type")
      val nMax = ev.agg(max($"event_id")).head().getLong(0)
      val a = ev.withColumn("c", least(lit(4), greatest(lit(1), expr(
        s"(event_id - 1 + ((event_id * event_id) % 97 - 48) * ($nMax div 96))" +
          s" * 4 div $nMax + 1"))))
      val m = a.groupBy($"c").agg(max($"ts").as("mx"))
        .select($"c".as("mc"), $"mx")
      val wm = a.select($"c").distinct()
        .join(m, $"mc" <= $"c" - 2, "left")
        .groupBy($"c").agg(max($"mx").as("wm_mx"))
      val expected = a.join(wm, Seq("c"))
        .filter($"wm_mx".isNotNull &&
          unix_millis(date_trunc("hour", $"ts")) + 3600000L <=
            unix_millis($"wm_mx") - 3600000L)
        .select($"c", date_trunc("hour", $"ts").as("w"), $"event_type")
        .distinct()
        .count()
      assert(measured == expected,
        s"engine dropped $measured, model predicts $expected")
      assert(measured > 0, "the disordered fixture must produce real drops")
    } finally () // src is the memoized shared fixture — the cache owns it
  }

  test("q96 transformWithState sessionize equals q39 batch sessionize") {
    val batch = graft.streaming.Sessionize.q39Sessionize(spark, sf)
    val tws = graft.streaming.Sessionize.q96TransformWithState(spark, sf)
    assert(batch.count() == tws.count())
    assert(tws.exceptAll(batch).isEmpty && batch.exceptAll(tws).isEmpty)
    // the provider swap is scoped: the session default must be restored
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .forall(!_.contains("RocksDB")))
  }

  test("sessionize advance() is incremental: chunked == one-shot (state continuity)") {
    import graft.streaming.Sessionize
    import Sessionize.{Ev, SessState}
    val t0 = 1700000000000L
    def ev(id: Long, offsetMin: Long) =
      Ev(1L, new java.sql.Timestamp(t0 + offsetMin * 60000L), id)
    // gaps: 0,5,10 | 50(new) | 55 | 120(new) — two split points tested
    val events = Seq(ev(1, 0), ev(2, 5), ev(3, 10), ev(4, 50), ev(5, 55), ev(6, 120))
    val (stAll, outAll) = Sessionize.advance(SessState(0, None), events)
    val oneShot = outAll ++ stAll.open
    for (split <- 1 until events.size) {
      val (st1, out1) = Sessionize.advance(SessState(0, None), events.take(split))
      val (st2, out2) = Sessionize.advance(st1, events.drop(split))
      val chunked = out1 ++ out2 ++ st2.open
      assert(chunked == oneShot, s"split at $split diverged")
    }
  }

  test("multimodal decode: features are fixed-width, deterministic, cover all docs") {
    val feats = Multimodal.decodeFeatures(
      Multimodal.withPayload(Tables.documents(spark, sf)))
    val rows = feats.collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val nBytes = r.getAs[Int]("n_bytes")
      val mean = r.getAs[Double]("mean_byte")
      assert(nBytes > 0)
      assert(mean > 0 && mean < 256)
      assert(r.getAs[Array[Byte]]("head").length == math.min(8, nBytes))
    }
    // deterministic: second run value-identical (binary compared by
    // content — Array[Byte].toString is an identity hash)
    def keyed(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("n_bytes"),
        r.getAs[Double]("mean_byte"), r.getAs[Array[Byte]]("head").toSeq)
    }.sortBy(_._1)
    val again = Multimodal.decodeFeatures(
      Multimodal.withPayload(Tables.documents(spark, sf))).collect()
    assert(keyed(rows).sameElements(keyed(again)))
  }

  test("checkpoint resume is exactly-once: re-running ingest adds no rows") {
    val out = Files.createTempDirectory("graft-ckpt-resume-").toString
    val checkpoint = Files.createTempDirectory("graft-ckpt-resume-ck-").toString
    def run(): Long = {
      val q = Streaming.projectIngest(Streaming.readEventsStream(spark, sf))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    try {
      val first = run()
      assert(first == Tables.events(spark, sf).count())
      val second = run()
      assert(second == first,
        "the checkpoint records consumed files, so a resumed run must be a no-op")
    } finally Seq(out, checkpoint).foreach(graft.engine.TempIo.deleteRecursively)
  }

  test("STATEFUL restart: windowed-agg state survives a checkpoint restart") {
    // Phase 1 streams the first half of the time range and shuts down;
    // phase 2 restarts from the checkpoint with the second half present.
    // Windows straddling the split are OPEN state at shutdown — the
    // restarted query must restore them and keep counting, and windows
    // already emitted must not re-emit. Proof: the two-phase output is
    // row-identical to a one-shot run over both chunks.
    val raw = Tables.events(spark, sf)
    val mid = raw
      .agg(((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .head().getLong(0)
    def carve(dst: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = s"$dst/stage"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dst/$name"))
      graft.engine.TempIo.deleteRecursively(stage)
    }
    def drain(src: String, out: String, ckpt: String): Unit = {
      val q = spark.readStream
        .schema(Streaming.eventsNormSchema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("counts"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def emitted(out: String): Seq[(String, String, Long)] =
      spark.read.parquet(out)
        .select(graft.engine.Exact.tsString($"window.start").as("ws"),
          $"event_type", $"counts")
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sorted
    val twoPhaseSrc = Files.createTempDirectory("graft-restart-src-").toString
    val oneShotSrc = Files.createTempDirectory("graft-oneshot-src-").toString
    val Seq(out2, ck2, out1, ck1) = Seq("o2", "c2", "o1", "c1")
      .map(p => Files.createTempDirectory(s"graft-restart-$p-").toString)
    try {
      carve(twoPhaseSrc, raw.filter(unix_micros($"ts") <= mid), "chunk1.parquet")
      drain(twoPhaseSrc, out2, ck2)
      val phase1 = emitted(out2)
      carve(twoPhaseSrc, raw.filter(unix_micros($"ts") > mid), "chunk2.parquet")
      drain(twoPhaseSrc, out2, ck2) // restart from the same checkpoint
      carve(oneShotSrc, raw.filter(unix_micros($"ts") <= mid), "chunk1.parquet")
      carve(oneShotSrc, raw.filter(unix_micros($"ts") > mid), "chunk2.parquet")
      drain(oneShotSrc, out1, ck1)
      val twoPhase = emitted(out2)
      assert(phase1.nonEmpty && phase1.size < twoPhase.size,
        "the restart must emit additional closed windows")
      assert(twoPhase == emitted(out1),
        "restart-with-state must equal the one-shot run exactly")
      val keys = twoPhase.map(t => (t._1, t._2))
      assert(keys.distinct.size == keys.size, "no window may emit twice")
    } finally Seq(twoPhaseSrc, oneShotSrc, out2, ck2, out1, ck1)
      .foreach(graft.engine.TempIo.deleteRecursively)
  }

  test("schema evolution: mergeSchema unions batch schemas, old rows null-fill") {
    val dir = Files.createTempDirectory("graft-evolve-").toString
    try {
      val base = Tables.events(spark, sf).select($"event_id", $"event_type")
      base.write.mode("append").parquet(dir)
      base.withColumn("v2_flag", lit(1L)).write.mode("append").parquet(dir)
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.toSet == Set("event_id", "event_type", "v2_flag"))
      val n = base.count()
      assert(merged.count() == 2 * n)
      assert(merged.filter($"v2_flag".isNull).count() == n,
        "rows written before the column existed read back as null")
    } finally graft.engine.TempIo.deleteRecursively(dir)
  }

  test("q89 stream-static join equals the batch enrichment") {
    val streamed = Streaming.q89StreamStaticJoin(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("counts"),
        round(avg(when($"value" > 100, 1).otherwise(0)), 6).as("hv_share"))
    assert(streamed.except(batch).count() == 0L &&
      batch.except(streamed).count() == 0L,
      "draining the stream-static join must equal the batch join")
  }

  test("q85 resize: thumbs capped at ThumbLen, bytes conserved before crop") {
    val audit = Multimodal.q85Resize(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(audit.map(_.getAs[Long]("n_payloads")).sum == docs.count())
    val expectedOrig = docs.select(sum(length($"text"))).as[Long].head()
    assert(audit.map(_.getAs[Long]("orig_bytes")).sum == expectedOrig,
      "ASCII corpus: payload bytes == text chars")
    audit.foreach { r =>
      assert(r.getAs[Long]("thumb_bytes") <=
        r.getAs[Long]("n_payloads") * Multimodal.ThumbLen)
      assert(r.getAs[Long]("thumb_bytes") <= r.getAs[Long]("orig_bytes"))
      assert(r.getAs[Long]("n_thumbs") >= 1L)
    }
  }

  test("q86 foreachBatch store roundtrip preserves every row at its grain") {
    val viaStore = Streaming.q86ForeachSink(spark, sf)
    val direct = Tables.events(spark, sf)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("date"),
        date_format($"ts", "HH").as("hour"))
      .agg(count(lit(1)).as("counts"))
    val mismatches = viaStore.select($"date", $"hour", $"counts")
      .except(direct.select($"date", $"hour", $"counts")).count()
    assert(mismatches == 0L, "per-grain counts via the foreachBatch store must equal batch")
    assert(viaStore.count() == direct.count())
  }

  test("q144 stream-IVM: 4-refresh maintained state equals one-shot aggregate") {
    val maintained = graft.streaming.Streaming.q144StreamIvm(spark, sf).collect()
    assert(maintained.forall(_.getAs[Long]("n_refreshes") == 4L),
      "the chunked replay must drive exactly 4 refreshes")
    val got = maintained.map(r => r.getAs[String]("event_type")
      -> ((r.getAs[Long]("n_total"), r.getAs[Double]("sum_value")))).toMap
    val direct = graft.engine.Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.engine.Exact.decToDouble(
          sum($"value".cast("decimal(18,2)")), 2).as("s"))
      .collect()
      .map(r => r.getAs[String]("event_type")
        -> ((r.getAs[Long]("n"), r.getAs[Double]("s")))).toMap
    assert(got == direct, "maintained view must equal the from-scratch aggregate")
  }

  test("q225 chained agg emits only COMPLETE days, each equal to the batch recomputation") {
    val rolled = graft.streaming.Streaming.q225WindowRollup(spark, sf).collect()
    assert(rolled.nonEmpty)
    val batchMap = graft.engine.Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("day", $"ts"), "yyyy-MM-dd HH:mm:ss").as("ds"),
        $"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(date_trunc("hour", $"ts")).as("h"))
      .collect()
      .map(r => (r.getAs[String]("ds"), r.getAs[String]("event_type"))
        -> ((r.getAs[Long]("n"), r.getAs[Long]("h")))).toMap
    // every emitted day carries the FULL day's totals — a partial daily
    // rollup (late hours still in upstream state) must be impossible
    rolled.foreach { r =>
      val key = (r.getAs[String]("ds"), r.getAs[String]("event_type"))
      assert(batchMap(key) ==
        ((r.getAs[Long]("counts"), r.getAs[Long]("n_hours"))),
        s"emitted day $key differs from the batch recomputation — partial rollup")
    }
    // and the watermark gate is real: the corpus's final day is withheld
    val emittedDays = rolled.map(_.getAs[String]("ds")).toSet
    val allDays = batchMap.keySet.map(_._1)
    assert(emittedDays.size < allDays.size,
      "the trailing (non-final) day must be withheld by the chained watermark")
  }

  test("q226 checkpoint state is exactly the complement of q107's emitted windows") {
    val emitted = graft.streaming.Streaming.q107AppendWindow(spark, sf)
      .select($"ws", $"event_type", $"counts").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("counts")).toMap
    val inState = graft.streaming.Streaming.q226StateIntrospect(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("counts")).toMap
    assert(inState.nonEmpty, "the final open windows must be present in state")
    assert(emitted.keySet.intersect(inState.keySet).isEmpty,
      "a window cannot be both emitted and still in state")
    val batch = graft.engine.Tables.events(spark, sf)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        $"event_type")
      .agg(count(lit(1)).as("counts")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("counts")).toMap
    assert(emitted ++ inState == batch,
      "emitted ∪ state must partition the complete batch group-by")
  }

  test("q227 KMV sketch state survives micro-batch boundaries: stream == batch estimate") {
    import org.apache.spark.sql.streaming.Trigger
    // run the q227 topology by hand to capture progress: the claim is
    // that the CUSTOM agg buffer round-trips the state store across
    // MULTIPLE batches — a single-batch run would prove nothing
    val src = graft.streaming.Streaming.disorderedChunks(spark, sf)
    val agg = spark.readStream
      .schema(graft.streaming.Streaming.eventsNormSchema)
      .option("pathGlobFilter", "chunk*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .select($"event_type",
        conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
      .groupBy($"event_type")
      .agg(graft.functions.KmvAggregate.kmvDistinct($"hv", 32).as("kmv_est"))
    val q = agg.writeStream
      .outputMode("complete").format("memory").queryName("sketch_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"the chunked source must drive >=4 data batches, saw $dataBatches")
    val streamed = spark.table("sketch_spec").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("kmv_est")).toMap
    val batch = graft.engine.Tables.events(spark, sf)
      .select($"event_type",
        conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
      .groupBy($"event_type")
      .agg(graft.functions.KmvAggregate.kmvDistinct($"hv", 32).as("kmv_est"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("kmv_est")).toMap
    assert(streamed == batch,
      "the sketch maintained across batches must equal the single-pass sketch")
  }

  test("q233 top-k buffer state survives micro-batch boundaries: stream == batch top-k") {
    import org.apache.spark.sql.streaming.Trigger
    val src = graft.streaming.Streaming.disorderedChunks(spark, sf)
    val agg = spark.readStream
      .schema(graft.streaming.Streaming.eventsNormSchema)
      .option("pathGlobFilter", "chunk*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .groupBy($"event_type")
      .agg(graft.functions.TopKAggregator.top_k(5)($"value", $"event_id").as("top"))
    val q = agg.writeStream
      .outputMode("complete").format("memory").queryName("topk_spec")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"the chunked source must drive >=4 data batches, saw $dataBatches")
    val streamed = spark.table("topk_spec")
      .select($"event_type", $"top").collect()
      .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val batch = graft.engine.Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(graft.functions.TopKAggregator.top_k(5)($"value", $"event_id").as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(streamed == batch,
      "the k-row buffer maintained across batches must equal the single-pass top-k")
  }

  test("drainToFileSink zero-output edge: empty stream reads back empty WITH schema") {
    // a stream whose every row is filtered out writes no parquet file at
    // all — the explicit read schema is what keeps the read-back legal
    val none = graft.streaming.Streaming
      .readEventsStream(spark, sf)
      .filter($"event_type" === "no_such_type")
    val back = graft.streaming.Streaming.drainToFileSink(spark, none)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.contains("event_type"),
      "the empty read-back must still carry the stream's schema")
  }

  test("S4 graceful absence: present hour reads, missing hour falls back, neither is None") {
    import graft.streaming.Streaming
    val out = Files.createTempDirectory("graft-s4-").toString
    Streaming.runIngest(spark, sf, out)
    // pick a (date, hour) that actually exists in the ingested layout
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("date="))
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("hour="))
        .map(h => (d.getName.stripPrefix("date="), h.getName.stripPrefix("hour=").toInt)))
      .sorted
    assert(parts.nonEmpty)
    val (date, hour) = parts.head
    // 1. requested hour present → served directly, rows match the partition
    val direct = Streaming.readHourPartitionOrFallback(spark, out, date, hour)
    assert(direct.exists(_._1.endsWith(f"hour=$hour%02d")))
    assert(direct.get._2.count() > 0)
    // 2. requested hour absent but previous present → falls back one hour
    // (carve the hole deterministically: the fixture ingests all 24 hours)
    val (hDate, hHour) = parts.find { case (d, h) =>
      h >= 1 && parts.contains((d, h - 1)) }.get
    graft.engine.TempIo.deleteRecursively(f"$out/date=$hDate/hour=$hHour%02d")
    val fb = Streaming.readHourPartitionOrFallback(spark, out, hDate, hHour)
    assert(fb.exists(_._1.endsWith(f"hour=${hHour - 1}%02d")),
      s"hour $hHour deleted with $hDate hour ${hHour - 1} present must fall back")
    // 3. neither requested nor previous exists → graceful None
    assert(Streaming.readHourPartitionOrFallback(spark, out, "1900-01-01", 12).isEmpty)
    graft.engine.TempIo.deleteRecursively(out)
  }
}
