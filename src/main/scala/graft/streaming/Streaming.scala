package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ArtifactBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types._

import graft.engine.{Scope, Tables, TempIo}

/** Structured Streaming surface — the reference's ingest pipeline
  * (consumer.scala:44-83) re-expressed over the `events` table, plus the
  * in-stream upgrades the reference lacked (SURVEY §2.8 T4-T6: windowed
  * aggregation with watermarks, streaming dedup).
  *
  * Kafka is unavailable offline, so the stream source is the file source
  * over the same parquet (identical query shape either way — swapping
  * `format("parquet")` for `format("kafka")` + the S2 cast projection
  * re-targets ingest). `Trigger.AvailableNow` drains all available input
  * and stops — the deterministic test/batch-parity mode; a production
  * deployment uses the default micro-batch trigger with the same plan.
  *
  * Scale posture: ingest is stateless map-only (append mode, partitioned
  * parquet sink — T2/T4's tumbling-window-as-partition layout); the
  * windowed agg carries watermark-bounded state; dedup state is likewise
  * watermark-bounded in production (`dropDuplicatesWithinWatermark`).
  *
  * Every stream runs through the one replay harness, [[Replay.run]],
  * which owns its scratch dirs, checkpoint, trigger and cleanup and
  * starts it through [[startStream]], so its generated code is compiled
  * once per JVM rather than once per stream run. Every chunk-replay
  * fixture is a memoized [[Carve]].
  */
object Streaming {

  /** Stateful streaming queries size their shuffle (= state store)
    * parallelism to the state volume, not the core count: every
    * (partition × store) pays snapshot/commit/maintenance overhead, so
    * 32-way parallelism over ~10^5 state rows is pure overhead (measured
    * on the stream-stream join at sf0.1: 79s at 32 partitions vs 3.9s at
    * 4). At 100 TB with ~10^9 state rows this width goes UP accordingly —
    * the point is that it tracks state size, independently of the
    * stateless queries' parallelism. */
  private val StatePartitions = "4"

  /** Runs `body` with the shuffle (= state store) width scoped to
    * [[StatePartitions]]. */
  private[graft] def withStatePartitions[T](spark: SparkSession)(body: => T): T =
    Scope.run { s =>
      s.conf(spark, "spark.sql.shuffle.partitions" -> StatePartitions)
      body
    }

  /** Runs `body` on the RocksDB state store — the provider the
    * state-v2 (transformWithState) queries require — and gives the
    * caller's provider setting back afterwards. */
  private[graft] def withRocksDb[T](spark: SparkSession)(body: => T): T =
    Scope.run { s =>
      s.conf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      body
    }

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"
  private val startLock = new Object

  /** Starts `writer`'s stream on the executors' shared class loader, so
    * its generated code is compiled once per JVM, not once per run.
    *
    * Spark keys its codegen compile cache on (context class loader,
    * source). `start()` clones the session, and under artifact
    * isolation (Spark's default) the clone's `ArtifactManager` holds
    * per-clone artifact state that stamps every job with the clone's
    * session UUID; the executor builds a fresh class loader per UUID,
    * so each stream run missed the cache and recompiled every class
    * (27 per `etl_stream` pass: q27 14, q63 9, q284 4). The clone
    * copies the conf synchronously inside `start()`, so switching
    * isolation off on the parent around that call alone leaves the
    * stream's jobs unstamped: they run under the executor's default
    * loader and hit the JVM-wide cache on every later run. The caller's
    * value is given back by a call [[Scope]] (unset stays unset), the
    * way [[withStatePartitions]] scopes the shuffle width, and starts are
    * serialized so concurrent callers never capture each other's
    * temporary value. A session that has added session-scoped artifacts
    * keeps isolation, because those classes live only in its loader.
    *
    * Measured with perfbench `etl_stream` (local[4] on a 4-vCPU VM, 10
    * alternating pairs against the previous revision, seeds 301–310):
    * `pass_cpu_s` median 6.29 → 4.88 s (−22%, better in 10 of 10 pairs,
    * previous revision's quartile spread 0.54 s); classes compiled per
    * pass 27 → 0. */
  private[graft] def startStream[T](spark: SparkSession)(
      writer: DataStreamWriter[T]): StreamingQuery =
    if (ArtifactBridge.sessionArtifactAdded(spark)) writer.start()
    else startLock.synchronized(Scope.run { s =>
      s.conf(spark, ArtifactIsolation -> "false")
      writer.start()
    })

  /** Files-per-trigger for the chunk-replay queries whose results are
    * PROVABLY batching-invariant (r15, guide §1.2 step 1 — cut
    * micro-batch machinery that buys nothing): 2 instead of 1 halves
    * the per-batch fixed cost (offset resolution, incremental
    * planning, WAL + offset commits, one state-store commit per
    * partition per store) while cross-batch statefulness stays
    * genuinely exercised — batch 2 reads state written by batch 1.
    * Eligibility is argued PER QUERY at the call site; the shared
    * preconditions are: no `withWatermark` anywhere in the query (so
    * batching can never change drops, evictions, or timer firings) and
    * a state merge that is either order-free (commutative counts /
    * exactly-mergeable sketches: q227 KMV, q233 top-k, q237 bitmap,
    * q362 histogram, q266 counts) or a fold over the batch SORTED by
    * (event time, id) where the carve's chunks are time-disjoint and
    * increasing, so sort(chunk i ∪ chunk i+1) = sort(chunk i) ++
    * sort(chunk i+1) and the fold result is identical (q250 EWMA,
    * q258 hysteresis, q267 last-K suffix). The disorder/watermark
    * replays (q174, q194/q195/q199, q205, q291, q274, q377, the
    * connector duplex q413–q415) KEEP per-file triggers — their
    * results or pinned batch counts depend on them. */
  private[graft] val ReplayFilesPerTrigger = "2"

  /** NORMALIZED events schema (`ts: TimestampType`) — the contract every
    * streaming consumer in this file sees after the source-side
    * [[graft.engine.Tables.normalizeTs]], and the physical schema of
    * every self-written chunk-replay fixture (the chunk writers persist
    * the normalized frame, so replays are encoding-stable no matter what
    * the driver's fixture carries). */
  val eventsNormSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events table, `ts` ALREADY normalized
    * to TimestampType — downstream queries never see the physical
    * encoding. A streaming read needs a user-supplied schema, and the
    * driver's fixture has changed its physical `ts` encoding across
    * rounds (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(μs)); supplying the WRONG
    * one silently misreads (round 6: μs read as long-nanos shrank every
    * timestamp 1000×). So the stream takes the schema the file actually
    * carries, [[Tables.schema]], which a rewritten fixture re-infers. */
  private[graft] def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.ensureNanosAsLong(spark)
    // The file source requires a directory; pathGlobFilter pins it to
    // the events table within the sfDir.
    Tables.normalizeTs(
      spark.readStream
        .schema(Tables.schema(spark, sfDir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Session conf flag selecting the ingest source: `file` (default —
    * the offline stand-in over the events parquet) or `kafka` (the
    * reference's real source, consumer.scala:56-62; needs the
    * spark-sql-kafka connector and a broker, neither of which exists in
    * this sandbox). Both sources feed the IDENTICAL downstream plan. */
  val IngestSourceConf = "graft.ingest.source"

  /** S2 + P1 as one source-agnostic projection: Kafka delivers the
    * payload as a binary `value` column; cast to string (S2) and parse
    * against the declared events schema (P1) to land on exactly
    * [[eventsNormSchema]] — the same contract [[readEventsStream]]
    * produces from parquet. Factored out of the Kafka reader so the
    * spec can drive it OFFLINE (the projection is source-agnostic: a
    * batch frame with a binary `value` column exercises the identical
    * expressions) and assert schema parity with the file stand-in. */
  /** Wire format for `ts` in the Kafka JSON payload: microsecond
    * precision (the fixture's native grain — the default JSON
    * timestamp format truncates to millis and would silently shear
    * sub-ms instants). */
  private[graft] val KafkaTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private[graft] def parseKafkaValue(raw: DataFrame): DataFrame =
    raw.select(
      from_json(col("value").cast("string"), eventsNormSchema,
        Map("timestampFormat" -> KafkaTsFormat)).as("e"))
      .select(col("e.event_id"), col("e.ts"), col("e.user_id"),
        col("e.event_type"), col("e.value"), col("e.props"))

  /** The real-Kafka twin of [[readEventsStream]] (consumer.scala:56-62):
    * subscribe → binary value → [[parseKafkaValue]]. Compiles and
    * type-checks against the public DataFrame API; `load()` resolves
    * the `kafka` source at runtime, so OFFLINE this throws the
    * source-not-found error (spec-asserted) rather than silently
    * degrading — with the connector jar on the classpath and a broker
    * at `bootstrap` it runs unchanged. */
  def readEventsKafka(spark: SparkSession,
      bootstrap: String = "localhost:9092",
      topic: String = "events"): DataFrame =
    parseKafkaValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** Source dispatch for the ingest pipeline: the [[IngestSourceConf]]
    * flag swaps the physical source; every transform downstream of it
    * (projection, sink, partitioning) is shared — the daylight between
    * the stand-in and the reference's consumer is exactly this one
    * builder. */
  def readEventsStreamConfigured(spark: SparkSession, sfDir: String): DataFrame =
    spark.conf.getOption(IngestSourceConf).getOrElse("file") match {
      case "kafka" => readEventsKafka(spark)
      case _       => readEventsStream(spark, sfDir)
    }

  /** The reference's ingest projection (S2+P1-P4, consumer.scala:63-70):
    * payload parse (`from_json` on props — the nested-schema path),
    * key synthesis, and derived `date`/`hour` partition columns. */
  def projectIngest(df: DataFrame): DataFrame = {
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    graft.engine.Tables.normalizeTs(df)
      .withColumn("parsed", from_json(col("props"), propsSchema))
      .select(
        concat(upper(substring(col("event_type"), 1, 2)),
          col("event_id").cast("string")).as("key"),
        col("ts"), col("user_id"), col("event_type"), col("value"),
        col("parsed.k").as("k"),
        date_format(col("ts"), "yyyy-MM-dd").as("date"),
        date_format(col("ts"), "HH").as("hour"))
  }

  /** S4 (consumer.scala:105-123): the reference's retry-on-missing-path
    * fallback, re-expressed without the 1-hour sleep — its batch stage
    * computes the previous-hour partition path and, when that path does
    * not exist yet (ingest lag), sleeps and retries before giving up
    * with None. Sleeping a driver for an hour is not a 100 TB posture;
    * the same "graceful absence" contract is an existence CHECK against
    * the partition directory (driver-side FS metadata only — no scan,
    * no exception-driven control flow): read the requested (date, hour)
    * partition if present, else fall back to the hour before — rolling
    * the date back a day at hour 0, matching the reference's clock
    * arithmetic (its previous-hour path at midnight is yesterday's
    * hour 23) — else None. Returns the resolved path alongside the
    * frame so callers can log which hour actually served. */
  def readHourPartitionOrFallback(spark: SparkSession, root: String,
      date: String, hour: Int): Option[(String, DataFrame)] = {
    def attempt(d: String, h: Int): Option[(String, DataFrame)] = {
      val p = s"$root/date=$d/hour=${"%02d".format(h)}"
      // existence via the root's Hadoop FileSystem, not java.io.File —
      // the documented posture is "driver-side FS metadata only", and
      // the roots that posture is for (hdfs://, s3a://) are invisible
      // to java.io.File, which would silently turn "data present" into
      // "graceful absence" on every non-local deployment
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(hp)) Some((p, spark.read.parquet(p)))
      else None
    }
    attempt(date, hour).orElse {
      if (hour > 0) attempt(date, hour - 1)
      else attempt(java.time.LocalDate.parse(date).minusDays(1).toString, 23)
    }
  }

  /** S5 (consumer.scala:73-82): checkpointed append-mode parquet sink,
    * partitioned. Runs to completion with AvailableNow; returns the sink
    * path it wrote. Partition grain is a knob: the directory count is
    * what you pay (tasks × touched dirs small files per micro-batch), so
    * size it to the downstream read pattern — hourly consumers get
    * (date, hour); a daily-batch consumer gets (date) at 1/24th the
    * file count. */
  def runIngest(spark: SparkSession, sfDir: String, outDir: String,
      partitionCols: Seq[String] = Seq("date", "hour")): String = Replay.run(spark) { r =>
    // the checkpoint is call-scoped: resume semantics are proven by the
    // dedicated spec with a caller-owned checkpoint
    r.drain(projectIngest(readEventsStreamConfigured(spark, sfDir)))(
      _.format("parquet").option("path", outDir).outputMode("append")
        .partitionBy(partitionCols: _*))
    outDir
  }

  /** S5 end-to-end as an oracle-checked query: stream-ingest events
    * through the checkpointed, (date, hour)-partitioned parquet sink,
    * read the sink back through partition discovery, and aggregate per
    * partition key — proving the full reference ingest loop (S2+P1-P4
    * projection → partitioned append sink → partition-pruned batch read)
    * preserves every row in its event-time partition. Oracle is the
    * direct batch aggregation of the same grains. */
  /** Sink read-back → per-(date, hour) aggregate — the shared roundtrip
    * contract of q63 and q86 (both verify against the same oracle, so
    * they must aggregate identically; the partition column comes back
    * typed by discovery, hence the string cast). Pinned to driver
    * memory so the caller can reclaim the scratch sink the lazy plan
    * would otherwise still be reading from. */
  private def readbackAgg(spark: SparkSession, out: String): DataFrame = {
    import spark.implicits._
    TempIo.materialize(spark,
      spark.read.parquet(out)
        .groupBy($"date", $"hour")
        .agg(count(lit(1)).as("counts"), countDistinct($"key").as("n_keys"))
        .select($"date".cast("string").as("date"), $"hour", $"counts", $"n_keys")
        .orderBy($"date", $"hour"))
  }

  def q63IngestRoundtrip(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    val out = r.dir("graft-ingest-")
    // date-grain sink here (the hour column still flows as data); the
    // full (date, hour) layout is exercised by the runIngest spec — the
    // roundtrip proof is identical, at 1/24th the directory count.
    runIngest(spark, sfDir, out, partitionCols = Seq("date"))
    readbackAgg(spark, out)
  }

  def q63Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS date, strftime(ts, '%H') AS hour,
       count(*) AS counts,
       count(DISTINCT upper(substr(event_type, 1, 2)) || CAST(event_id AS VARCHAR)) AS n_keys
       FROM events GROUP BY 1, 2 ORDER BY date, hour"""

  /** S6 (consumer.scala:176-181) analogue: the reference appends
    * aggregate rows to MongoDB — an arbitrary non-file store. The Spark
    * surface for that is `foreachBatch`: per micro-batch, a DRIVER-side
    * callback gets the batch as a plain DataFrame plus an epoch id, and
    * can run any batch writer (Mongo/JDBC/REST). Idempotence contract:
    * the epoch id keys the write (here: one overwritten directory per
    * epoch), so a replayed batch after failure lands on the same key
    * instead of duplicating — exactly-once delivery on top of
    * at-least-once replay. Oracle-checked by reading the "store" back
    * and proving the roundtrip preserved every row (shares q63's
    * contract). */
  def q86ForeachSink(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    val out = r.dir("graft-fes-")
    r.drain(projectIngest(readEventsStream(spark, sfDir)))(
      _.foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/epoch=$epochId")
      })
    readbackAgg(spark, out)
  }

  /** The graftsink read-back of q270/q284/q413: per (date, hour) row and
    * key counts, pinned to driver memory so the scratch store can go. */
  private def graftsinkAgg(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    TempIo.materialize(spark,
      spark.read.format("graftsink").load(store)
        .groupBy($"date", $"hour")
        .agg(count(lit(1)).as("counts"), countDistinct($"key").as("n_keys"))
        .orderBy($"date", $"hour"))
  }

  /** q270 — S6 through the CONNECTOR shape: q86's foreachBatch callback
    * stands in for "call any batch writer"; this variant is the other
    * half of the reference's MongoDB contract
    * (consumer.scala:176-181) — a connector whose per-task writers run
    * on EXECUTORS and whose append is published by a two-phase commit.
    * Each micro-batch appends through the custom `graftsink`
    * DataSourceV2 provider ([[graft.sources.GraftSinkProvider]]:
    * staging files → task commit messages → driver-side atomic rename;
    * abort leaves no partial data, spec-asserted in GraftSinkSpec),
    * then the store is read back THROUGH the provider — one scan task
    * per committed part file, no row ever transiting the driver in
    * either direction — and aggregated per (date, hour): the q63/q86
    * shared roundtrip oracle. */
  def q270GraftSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    val out = r.dir("graft-dsv2-")
    r.drain(projectIngest(readEventsStream(spark, sfDir)))(
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format("graftsink").mode("append")
          .option("path", out).save()
      })
    graftsinkAgg(spark, out)
  }

  /** q284 — S6 as a TRUE V2 STREAMING SINK: the ingest stream writes
    * through `writeStream.format("graftsink")` directly — no
    * foreachBatch anywhere — exercising the connector's
    * STREAMING_WRITE half ([[graft.sources.GraftSink]]'s
    * GraftStreamingWrite): per-epoch staging, driver-side atomic
    * publish, and an epoch MARKER that makes a replayed micro-batch a
    * no-op — exactly-once delivery implemented INSIDE the connector,
    * which is where the reference's MongoDB sink needs it
    * (consumer.scala:176-181). Read back through the provider and
    * aggregated per (date, hour): the q63/q86/q270 shared oracle. */
  def q284GraftSinkStream(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    val out = r.dir("graft-dsv2s-")
    r.drain(projectIngest(readEventsStream(spark, sfDir)))(
      _.format("graftsink").option("path", out).outputMode("append"))
    graftsinkAgg(spark, out)
  }

  /** q413 — CONNECTOR→CONNECTOR ingest loop: the q63 shape run
    * entirely inside the custom DataSourceV2 — stream FROM a graftsink
    * table (the [[graft.sources.GraftMicroBatchStream]] read path: a
    * durable first-seen arrival log under the checkpoint dir, offset =
    * file index, `maxFilesPerTrigger = 1` admission control so the
    * 4-part source becomes four micro-batches) INTO a second graftsink
    * table (the atomic epoch-dir streaming write). The read-back
    * aggregate equals the batch aggregate over raw events iff the
    * source's offset ranges partition the file set exactly — no file
    * dropped, none replayed — across every micro-batch boundary. This
    * is the reference's Kafka→store loop (consumer.scala:56-82) with
    * both endpoints swapped for the engine's own connector, which is
    * as close as a no-egress sandbox gets to a live broker.
    *
    * Scale: the arrival log is driver-side file NAMES only; rows move
    * executor→executor through both connectors; one part file = one
    * task on the read side, staged files + one atomic rename per epoch
    * on the write side. */
  def q413ConnectorLoop(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    val src = r.dir("graft-cloop-src-")
    val dst = r.dir("graft-cloop-dst-")
    projectIngest(graft.engine.Tables.events(spark, sfDir))
      .repartition(4)
      .write.format("graftsink").mode("append")
      .option("path", src).save()
    r.drain(spark.readStream.format("graftsink")
      .option("maxFilesPerTrigger", "1")
      .load(src))(
      _.format("graftsink").option("path", dst).outputMode("append"))
    graftsinkAgg(spark, dst)
  }

  /** q414 — STATEFUL AGGREGATION OVER THE CUSTOM STREAMING SOURCE: a
    * windowed aggregate whose state must accumulate ACROSS the
    * micro-batches the graftsink source's admission control produces —
    * the source table is written time-range-partitioned into four part
    * files, `maxFilesPerTrigger = 1` makes each file its own batch, so
    * every (day, type) cell's count is only correct if the aggregate
    * state carried over all four batches and the final complete-mode
    * emission reflects the union. Complete mode keeps the oracle exact
    * with zero watermark calibration: at AvailableNow termination the
    * sink holds every window = the batch aggregate, bit for bit. This
    * is the reference's Kafka→windowed-agg consumer loop
    * (consumer.scala:56-82, 126-140) with the source swapped for the
    * engine's own connector.
    *
    * Scale: state is O(|days| × |types|) — time-grid bounded; rows
    * move executor-side through the connector's per-file tasks; the
    * memory drain holds only the grid-bounded complete frame. */
  def q414ConnectorStatefulAgg(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    Replay.run(spark) { r =>
      val src = r.dir("graft-csagg-src-")
      graft.engine.Tables.events(spark, sfDir)
        .select($"event_id", $"ts", $"event_type",
          graft.engine.Exact.cents($"value").as("cents"))
        .repartitionByRange(4, $"ts")
        .write.format("graftsink").mode("append").option("path", src).save()
      val agg = spark.readStream.format("graftsink")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
      // BOUNDED memory drain: |days|×|types| complete-mode windows —
      // time-grid bounded at any corpus size
      r.drain(agg)(_.outputMode("complete").format("memory")
        .queryName("connector_stateful_agg"))
      TempIo.materialize(spark,
        spark.table("connector_stateful_agg")
          .select(graft.engine.Exact.tsString($"window.start").as("day"),
            $"event_type", $"n", $"cents")
          .orderBy($"day", $"event_type"))
    }
  }

  def q414Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
         event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS cents
       FROM events GROUP BY 1, 2 ORDER BY day, event_type"""

  /** q415 — WATERMARK + APPEND over the connector source, INTO the
    * connector sink: the PRODUCTION form of q414's windowed aggregate
    * (VERDICT r10 item 4). q414's complete mode re-emits the whole
    * result table every trigger — grid-bounded locally, but at 100×
    * the right shape is `withWatermark(...)` + append, where each
    * window row is emitted exactly once when the watermark passes its
    * end and state for closed windows is evicted, so per-trigger sink
    * traffic is the CLOSED windows only, never the full history. Both
    * connector duplex halves run live: the source table is written
    * time-range-partitioned into four part files and admission control
    * (`maxFilesPerTrigger = 1`) replays them as four micro-batches in
    * arrival order (range partition k+1's timestamps all exceed
    * partition k's, so no row ever arrives below the watermark and the
    * emitted set is exactly the deterministic gate the oracle mirrors);
    * the append stream lands in a SECOND graftsink table through the
    * atomic epoch-dir publish. The watermark gate: a day window
    * [d, d+1d) is in the final sink iff d+1d ≤ ms-truncated max event
    * time − 3 h — the last day of the corpus stays in state, withheld,
    * exactly as a live stream would hold its open window. The
    * late-data contract (a row below the watermark is dropped, an
    * in-gate row still counts) is pinned by ConnectorStatefulSpec's
    * controlled-arrival test, which this fixture's in-order replay
    * cannot exhibit.
    *
    * Scale: state is the OPEN windows only (≤ |types| × ⌈delay/window⌉
    * + 1 rows here, vs q414's whole |days| × |types| grid); the sink
    * receives each closed window once; rows move executor-side through
    * both connector halves; the memory drain holds only the final
    * read-back aggregate. */
  def q415ConnectorAppendWindow(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    Replay.run(spark) { r =>
      val src = r.dir("graft-capp-src-")
      val dst = r.dir("graft-capp-dst-")
      graft.engine.Tables.events(spark, sfDir)
        .select($"event_id", $"ts", $"event_type",
          graft.engine.Exact.cents($"value").as("cents"))
        .repartitionByRange(4, $"ts")
        .write.format("graftsink").mode("append").option("path", src).save()
      val agg = spark.readStream.format("graftsink")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .withWatermark("ts", "3 hours")
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .select(graft.engine.Exact.tsString($"window.start").as("day"),
          $"event_type", $"n", $"cents")
      r.drain(agg)(_.outputMode("append").format("graftsink").option("path", dst))
      TempIo.materialize(spark,
        spark.read.format("graftsink").load(dst)
          .orderBy($"day", $"event_type"))
    }
  }

  /** Watermark gate mirror of q414Sql: a day window [d, d+1d) lands in
    * the append sink iff d + 1 d ≤ ms-truncated max event time − 3 h. */
  def q415Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
         event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS cents
       FROM events
       WHERE epoch_ms(date_trunc('day', ts)) + 86400000 <=
         (SELECT epoch_ms(max(ts)) FROM events) - 10800000
       GROUP BY 1, 2 ORDER BY day, event_type"""

  /** q290 — CHECKPOINT RESTART THROUGH THE CUSTOM CONNECTOR: the
    * T3/T7 fault-tolerance contract (q205 proves it for the built-in
    * parquet sink) driven through graftsink's STREAMING_WRITE — two
    * separate query RUNS share one checkpoint: run 1 drains the first
    * two time-quarter chunks, run 2 starts fresh against the same
    * checkpoint after two more chunks land and must process ONLY the
    * new files, with the connector's epoch markers guarding the
    * publish side against replayed batches. The read-back aggregate
    * equals the batch aggregate over ALL events iff every chunk was
    * delivered exactly once across the restart — which is the oracle. */
  def q290GraftSinkRestart(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    import spark.implicits._
    val src = r.dir("graft-gsr-src-")
    val out = r.dir("graft-gsr-out-")
    val ckpt = r.dir("graft-gsr-ckpt-")
    def drain(): Unit =
      r.drain(Carve.stream(spark, src, quarterChunkSchema)
        .select($"event_id", $"user_id",
          date_format($"ts", "yyyy-MM-dd").as("date"),
          date_format($"ts", "HH").as("hour")), ckpt)(
        _.format("graftsink").option("path", out).outputMode("append"))
    val carve = timeQuarterChunks(spark, sfDir)
    Carve.stage(carve, src, Seq(1, 2))
    drain()
    Carve.stage(carve, src, Seq(3, 4))
    drain()
    TempIo.materialize(spark,
      spark.read.format("graftsink").load(out)
        .groupBy($"date", $"hour")
        .agg(count(lit(1)).as("counts"),
          countDistinct($"event_id").as("n_keys"))
        .orderBy($"date", $"hour"))
  }

  /** Exactly-once across the restart ⇔ the plain batch aggregate. */
  def q290Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS date, strftime(ts, '%H') AS hour,
       CAST(count(*) AS BIGINT) AS counts,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_keys
       FROM events GROUP BY 1, 2 ORDER BY date, hour"""

  /** q291 — STREAMING OBSERVED METRICS: q99's `observe()` audit
    * attached to a LIVE stream — per micro-batch, the named aggregate
    * rides the query's progress events (`StreamingQueryProgress
    * .observedMetrics`) instead of a second scan, which is how a
    * production pipeline watches row counts / value totals / QA flags
    * without paying for a monitoring query. Replayed over the 4
    * time-quarter chunks so MULTIPLE batches contribute; the driver
    * folds the per-batch observations and the total must equal the
    * batch aggregate — proving no batch was dropped or double-counted
    * by the metrics path. Observation cost is map-side only (the
    * CollectMetrics node aggregates alongside the sink write). */
  def q291StreamObserve(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val src = timeQuarterChunks(spark, sfDir)
    Replay.run(spark) { r =>
      val sink = r.dir("graft-obs-sink-")
      val q = r.drain(Carve.stream(spark, src, quarterChunkSchema)
        .observe("ingest_audit",
          count(lit(1)).as("n_rows"),
          count(when($"value" > 100, 1)).as("high_value"),
          sum(graft.engine.Exact.cents($"value")).as("cents")))(
        _.format("parquet").option("path", sink).outputMode("append"))
      val perBatch = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest_audit")))
      val totals = perBatch.foldLeft((0L, 0L, 0L)) { (acc, r) =>
        (acc._1 + r.getAs[Long]("n_rows"),
          acc._2 + r.getAs[Long]("high_value"),
          acc._3 + (if (r.isNullAt(r.fieldIndex("cents"))) 0L
                    else r.getAs[Long]("cents")))
      }
      val nDataBatches = perBatch.count(_.getAs[Long]("n_rows") > 0)
      Seq((nDataBatches.toLong, totals._1, totals._2, totals._3 / 100.0))
        .toDF("n_batches", "n_rows", "high_value", "sum_value")
    }
  }

  /** The four quarter chunks each hold ≥1 row, so the metrics path
    * must report exactly 4 data batches and the batch totals. */
  def q291Sql: String =
    """SELECT CAST(4 AS BIGINT) AS n_batches,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS high_value,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_value
       FROM events"""

  /** q228 — STREAMING DEAD-LETTER SPLIT: one stream fanned out to a
    * clean sink and a quarantine sink inside a single foreachBatch —
    * the production hygiene pattern q202 demonstrates for batch, under
    * streaming delivery semantics. Every 13th event's `props` payload
    * is corrupted deterministically at the staged source; `from_json`
    * (PERMISSIVE by construction — unparseable → null struct) is the
    * classifier, so the split is a filter pair on ONE parsed frame, not
    * two parses. Both writes key on the epoch id (q86's idempotence
    * contract), so a replayed batch lands on its own directories
    * instead of duplicating either sink. The output reconciles the two
    * sinks against the source: clean + dead = total, the dead set is
    * exactly the corrupted ids (sum-checked), and the quarantine rows
    * carry the RAW payload for replay.
    *
    * Scale: the split costs one parse + two partition-pruned writes per
    * batch; quarantine volume is the error rate, not the corpus — the
    * dead-letter sink stays small while the clean path carries the
    * firehose. */
  /** q228's corrupted single-chunk carve: every 13th event's props
    * prefixed "corrupt:". The classifier-precondition `require` rides
    * the build — it guards FIXTURE drift, which the carve's stamp check
    * already re-detects. */
  private[graft] def corruptedChunk(spark: SparkSession, sfDir: String): String =
    Carve(spark, sfDir, "corruptedChunk", "events") {
      import spark.implicits._
      val events = Tables.events(spark, sfDir)
      val propsSchema = StructType(Seq(StructField("k", LongType)))
      // Classifier precondition, asserted not assumed: the split (and
      // its oracle) equate "parses with non-null k" with "not
      // corrupted". A fixture row shipping null/absent-k props would
      // be quarantined by from_json nullness while the oracle still
      // counts it clean — fail loudly as fixture drift instead of as
      // a hash mismatch.
      val nUnparseable = events
        .filter(from_json($"props", propsSchema).getField("k").isNull)
        .count()
      require(nUnparseable == 0,
        s"q228 fixture assumption broken: $nUnparseable events rows lack " +
          "non-null parseable props.k — classifier and oracle would " +
          "disagree (fixture drift, not an engine bug)")
      Seq(events.withColumn("props",
        when($"event_id" % 13 === 0, concat(lit("corrupt:"), $"props"))
          .otherwise($"props")))
    }

  def q228StreamDeadLetter(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val src = corruptedChunk(spark, sfDir)
    Replay.run(spark) { r =>
      val cleanOut = r.dir("graft-dlq-clean-")
      val deadOut = r.dir("graft-dlq-dead-")
      val propsSchema = StructType(Seq(StructField("k", LongType)))
      r.drain(spark.readStream
        .schema(eventsNormSchema)
        .option("pathGlobFilter", "chunk*.parquet")
        .parquet(src))(
        _.foreachBatch { (batch: DataFrame, epochId: Long) =>
          val parsed = batch.withColumn("k",
            from_json(col("props"), propsSchema).getField("k"))
          parsed.filter(col("k").isNull)
            .select(col("event_id"), col("props")) // raw payload for replay
            .write.mode("overwrite").parquet(s"$deadOut/epoch=$epochId")
          parsed.filter(col("k").isNotNull)
            .select(col("event_id"), col("k"))
            .write.mode("overwrite").parquet(s"$cleanOut/epoch=$epochId")
        })
      val clean = spark.read.parquet(cleanOut)
      val dead = spark.read.parquet(deadOut)
      TempIo.materialize(spark,
        clean.agg(count(lit(1)).as("n_clean"), sum($"k").as("clean_k_sum"))
          .crossJoin(dead.agg(count(lit(1)).as("n_dead"),
            sum($"event_id").as("dead_id_sum"),
            count(when($"props".startsWith("corrupt:"), 1))
              .as("n_replayable"))))
    }
  }

  /** Oracle: the corrupted set is exactly event_id % 13 = 0; clean rows
    * parse their original {"k":N} payload. */
  def q228Sql: String =
    """SELECT
       CAST(count(*) FILTER (event_id % 13 <> 0) AS BIGINT) AS n_clean,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
         FILTER (event_id % 13 <> 0) AS BIGINT) AS clean_k_sum,
       CAST(count(*) FILTER (event_id % 13 = 0) AS BIGINT) AS n_dead,
       CAST(sum(event_id) FILTER (event_id % 13 = 0) AS BIGINT) AS dead_id_sum,
       CAST(count(*) FILTER (event_id % 13 = 0) AS BIGINT) AS n_replayable
       FROM events"""

  /** Stream-static enrichment join — the reference's enrichment shape
    * (consumer.scala:125-148 joins each micro-batch against driver-
    * resident NLP models; the relational analogue is a static dimension
    * joined into the stream). The static side is a tiny per-type profile
    * computed ONCE in batch; Spark broadcasts it into every micro-batch
    * as a BroadcastHashJoin — stateless, no watermark, no state store,
    * which is what makes stream-static the cheap join (vs q42's stateful
    * stream-stream). At 100 TB the dimension rides the same broadcast
    * as long as it stays executor-memory-small; bigger dims become a
    * shuffled join per micro-batch. */
  def q89StreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val dim = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(round(avg(when($"value" > 100, 1).otherwise(0)), 6).as("hv_share"))
    val enriched = readEventsStream(spark, sfDir)
      .select($"event_type", $"value")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("counts"),
        first($"hv_share").as("hv_share"))
    // BOUNDED memory drain: one row per event_type (complete mode) — O(|types|), data-volume-free
    Replay.run(spark)(_.drain(enriched)(
      _.outputMode("complete").format("memory").queryName("stream_static")))
    spark.table("stream_static")
      .select($"event_type", $"counts", $"hv_share")
      .orderBy($"event_type")
  }

  /** Every stream row joins its type's single dim row, so the drained
    * result is per-type counts carrying the dim's hv_share. */
  def q89Sql: String =
    """SELECT event_type, count(*) AS counts,
       round(avg(CASE WHEN value > 100 THEN 1 ELSE 0 END), 6) AS hv_share
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** T4/T5 upgrade: in-stream tumbling-window aggregation with a
    * watermark (the reference materialized hourly windows as directories
    * and read them back in batch). Complete output mode so every window
    * is emitted when the stream drains — batch-equivalent, hence
    * oracle-checkable. */
  def q27StreamWindow(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = readEventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("counts"),
        graft.engine.Exact.sumExact($"value", 2).as("sum_value"))
    // BOUNDED memory drain: |hour grid| x |event types| rows (complete mode) — grows with the time horizon, not row count
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("complete").format("memory").queryName("stream_window")))
    spark.table("stream_window")
      .select(graft.engine.Exact.tsString($"window.start").as("ws"),
        $"event_type", $"counts", $"sum_value")
      .orderBy($"ws", $"event_type")
  }

  /** T6 upgrade: streaming dedup. With AvailableNow the drained result
    * equals batch DISTINCT over the key columns — the deterministic
    * contract (production pairs this with `dropDuplicatesWithinWatermark`
    * to bound state). */
  def q28StreamDedup(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val deduped = readEventsStream(spark, sfDir)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
    // Distinct user×type keys grow with the user population, so the
    // drain goes through the distributed file sink, never the driver.
    drainToFileSink(spark, deduped)
      .select($"user_id", $"event_type")
      .orderBy($"user_id", $"event_type")
  }

  /** T6: dropDuplicatesWithinWatermark — the state-bounded streaming
    * dedup API (state for a key is dropped once the watermark passes it,
    * unlike q28's unbounded dropDuplicates). Draining in one batch keeps
    * every key inside the watermark window, so the result equals batch
    * DISTINCT — the oracle. */
  def q47DedupWatermark(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val deduped = readEventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select($"user_id", $"event_type", $"ts")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    // Key-scale output (distinct user×type) → distributed file-sink drain.
    drainToFileSink(spark, deduped)
      .select($"user_id", $"event_type")
      .orderBy($"user_id", $"event_type")
  }

  def q47Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
       ORDER BY user_id, event_type"""

  /** T4 upgrade, sliding form: 1-hour windows sliding every 30 minutes —
    * each event lands in exactly 2 windows. Batch `window()` here; the
    * identical expression drops into the q27 streaming pipeline. The
    * oracle mirrors the expansion explicitly (k ∈ {0,1} window starts on
    * the 30-minute grid). */
  def q41SlidingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("counts"),
        graft.engine.Exact.sumExact($"value", 2).as("sum_value"))
      .select(graft.engine.Exact.tsString($"window.start").as("ws"),
        $"event_type", $"counts", $"sum_value")
      .orderBy($"ws", $"event_type")
  }

  def q41Sql: String =
    """WITH expanded AS (
         SELECT strftime(make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                                        - k.k * 1800000000),
                         '%Y-%m-%d %H:%M:%S') AS ws,
                event_type, value
         FROM events CROSS JOIN (VALUES (0), (1)) k(k))
       SELECT ws, event_type, count(*) AS counts,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value
       FROM expanded GROUP BY ws, event_type ORDER BY ws, event_type"""

  /** T6 upgrade: stream-stream interval join — errors within 2 hours
    * after a purchase by the same user (the synthetic stream averages one
    * event per user every ~20 h, so a 10-minute window would never
    * match). Both sides carry watermarks (the
    * state-cleanup contract at scale: state for a side is dropped once
    * its watermark passes the join window); with AvailableNow all matches
    * are in one batch, so output equals the batch interval join. */
  /** One watermarked, tag-prefixed side of the q42/q97 interval joins —
    * shared so the inner and left-outer variants cannot silently
    * diverge in projection or watermark delay. */
  private def intervalJoinSide(spark: SparkSession, sfDir: String,
      tag: String, eventType: String): DataFrame = {
    import spark.implicits._
    readEventsStream(spark, sfDir)
      .filter($"event_type" === eventType)
      .select($"user_id".as(s"${tag}_user"), $"ts".as(s"${tag}_ts"),
        $"event_id".as(s"${tag}_id"))
      .withWatermark(s"${tag}_ts", "3 hours")
  }

  def q42StreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, eventType: String) =
      intervalJoinSide(spark, sfDir, tag, eventType)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + interval 2 hours"))
    // Pair output is row-scale (grows with matches) → file-sink drain.
    drainToFileSink(spark, joined)
      .select($"p_user".as("user_id"), $"p_id", $"e_id",
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000").as("gap_s"))
      .orderBy($"user_id", $"p_id", $"e_id")
  }

  def q42Sql: String =
    """SELECT a.user_id AS user_id, a.event_id AS p_id, b.event_id AS e_id,
       CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS gap_s
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND a.event_type = 'purchase' AND b.event_type = 'error'
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
       ORDER BY a.user_id, p_id, e_id"""

  /** Stream-stream LEFT OUTER interval join — q42's inner form plus the
    * watermark-driven null-padding semantics: an unmatched purchase is
    * emitted with null error columns only once the watermark proves no
    * matching error can still arrive (wm > p_ts + join range). With
    * AvailableNow the watermark lands at max(event time) − 3 h after the
    * data batch and a final no-data batch flushes evicted state, so the
    * emitted outer rows are exactly the unmatched purchases whose match
    * window closed below that watermark — a deterministic, data-defined
    * set, which is what makes this oracle-checkable: the SQL twin
    * reproduces the eviction predicate with a scalar max(ts) subquery.
    * Purchases inside the final 5 h (3 h delay + 2 h range) stay in
    * state unflushed — exactly what a production query would do, since
    * their window is still open. */
  def q97StreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, eventType: String) =
      intervalJoinSide(spark, sfDir, tag, eventType)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + interval 2 hours"),
      "left_outer")
    // Row-scale pair output (plus null-padded outers) → file-sink drain;
    // the sink parquet already backs the plan, so no extra materialize.
    drainToFileSink(spark, joined)
      .select($"p_user".as("user_id"), $"p_id", $"e_id",
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000").as("gap_s"))
      .orderBy($"user_id", $"p_id", $"e_id".asc_nulls_last)
  }

  def q97Sql: String =
    """SELECT a.user_id AS user_id, a.event_id AS p_id, b.event_id AS e_id,
       CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS gap_s
       FROM (SELECT * FROM events WHERE event_type = 'purchase') a
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
         ON a.user_id = b.user_id
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
       WHERE b.event_id IS NOT NULL
          -- watermark mirror: each side carries its own withWatermark
          -- node, so the global watermark is min over SIDES of
          -- (side max event time − 3 h), with Spark tracking event-time
          -- stats in MILLISECONDS (micros truncated). A left row flushes
          -- null-padded when its match window closes below it:
          -- p_ts + 2 h < wm.
          OR epoch_us(a.ts) + 7200000000 <
             ((SELECT least(
                 (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'),
                 (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'error'))
               ) - 10800000) * 1000
       ORDER BY user_id, p_id, e_id NULLS LAST"""

  def q27Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type, count(*) AS counts,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""

  def q28Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
       ORDER BY user_id, event_type"""

  /** T4/T5 in APPEND mode — the production streaming-ETL form (q27 is
    * the complete-mode twin): each hourly window row is emitted exactly
    * once, when the watermark passes its end, and never revised — the
    * only mode a file/Kafka sink accepts for aggregations. The cost of
    * single-emission is the tail: windows the watermark hasn't passed
    * when the stream drains stay in state and are withheld (here the
    * last hour of event time — the delay — which a production run emits
    * as soon as later data arrives). The withheld set is
    * data-deterministic (same eviction arithmetic as q97: ms-truncated
    * max event time − delay), so the oracle reproduces the gate
    * exactly. */
  def q107AppendWindow(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = readEventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("counts"),
        graft.engine.Exact.sumExact($"value", 2).as("sum_value"))
    // BOUNDED memory drain: |hour grid| x |event types| rows — time-grid-bounded, not row-scale
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("append").format("memory").queryName("append_window")))
    TempIo.materialize(spark,
      spark.table("append_window")
        .select(graft.engine.Exact.tsString($"window.start").as("ws"),
          $"event_type", $"counts", $"sum_value")
        .orderBy($"ws", $"event_type"))
  }

  /** Watermark gate mirror: a window [s, s+1h) emits iff
    * s + 1 h ≤ wm = ms-truncated max event time − 1 h. */
  def q107Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type, count(*) AS counts,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value
       FROM events
       WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <=
         (SELECT epoch_ms(max(ts)) FROM events) - 3600000
       GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** T2 completes the output-mode triad: UPDATE mode (complete = q27,
    * append = q107) over a genuinely multi-batch stream. The corpus is
    * carved into 4 chunk files by ntile over event-time order and
    * replayed with maxFilesPerTrigger=1, so update mode re-emits a
    * (window, type) group once per micro-batch that touches it — the
    * memory sink accumulates that update LOG. The reported shape —
    * emissions per group and the final (maximum) count — is
    * deliberately insensitive to BATCH ORDER: emission count = #chunks
    * containing the group (set membership, not sequence), final count
    * is the total; so the oracle reproduces both from the same chunk
    * assignment without modeling the file source's scheduling. Chunk =
    * event_id % 4 — a pure projection (an event-time ntile would need
    * a global single-partition sort just to carve the fixture), and it
    * routes every group through ~all 4 batches, exercising re-emission
    * maximally.
    *
    * Scale: update mode is the changelog-sink contract (per-batch
    * deltas to a keyed store) — state is one row per open group, each
    * batch shuffles only its own chunk. The chunk carving here is
    * test-fixture prep, not the operator (production chunks arrive as
    * files). */
  def q128UpdateMode(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = Carve.stream(spark, pmodChunks(spark, sfDir), eventsNormSchema)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("counts"))
    // BOUNDED memory drain: |hour grid| x |event types| update rows — time-grid-bounded
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("update").format("memory").queryName("update_window")))
    TempIo.materialize(spark,
      spark.table("update_window")
        .groupBy($"window", $"event_type")
        .agg(count(lit(1)).as("n_emissions"), max($"counts").as("final_counts"))
        .select(graft.engine.Exact.tsString($"window.start").as("ws"),
          $"event_type", $"n_emissions", $"final_counts")
        .orderBy($"ws", $"event_type"))
  }

  def q128Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type,
       count(DISTINCT event_id % 4) AS n_emissions,
       count(*) AS final_counts
       FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** Streaming incremental view maintenance — q136's ⊕ merge driven by
    * a live refresh loop: each micro-batch aggregates ONLY its own
    * rows to a |keys|-sized partial, reads the previous state version,
    * merges, and writes the next version (read-modify-write in
    * `foreachBatch`, the engine's exactly-once refresh hook — versioned
    * state paths make each refresh idempotent under epoch replay,
    * which is foreachBatch's at-least-once obligation). The stream is
    * the q128 4-chunk replay (maxFilesPerTrigger=1), so the view
    * absorbs 4 refreshes; `n_refreshes` is MEASURED from the last
    * state version, and the oracle pins the chunk count — a runtime
    * that coalesced batches would fail the gate, not silently pass.
    *
    * Scale: fact bytes are read once ever (each batch only its chunk);
    * every refresh costs one |keys|-frame merge. The state table is
    * what a dashboard reads between refreshes — this is the streaming
    * complement of q136's batch merge, with the same algebra.
    *
    * The oracle recomputes from scratch (q136's contract): equality of
    * a 4-step maintained state with the one-shot aggregate IS the
    * maintenance-correctness claim. */
  def q144StreamIvm(spark: SparkSession, sfDir: String): DataFrame = Replay.run(spark) { r =>
    import spark.implicits._
    val src = pmodChunks(spark, sfDir)
    val stateRoot = r.dir("graft-sivm-state-")
    var stateVersion = -1L
    r.drain(Carve.stream(spark, src, eventsNormSchema))(
      _.foreachBatch { (batch: DataFrame, epochId: Long) =>
        val partial = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("s"))
        val merged =
          if (stateVersion < 0) partial
          else batch.sparkSession.read.parquet(s"$stateRoot/v$stateVersion")
            .unionByName(partial)
            .groupBy(col("event_type"))
            .agg(sum(col("n")).as("n"),
              sum(col("s")).cast("decimal(38,2)").as("s"))
        merged.coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v$epochId")
        stateVersion = epochId
      })
    TempIo.materialize(spark,
      spark.read.parquet(s"$stateRoot/v$stateVersion")
        .select($"event_type", $"n".as("n_total"),
          graft.engine.Exact.decToDouble($"s", 2).as("sum_value"),
          lit(stateVersion + 1).as("n_refreshes"))
        .orderBy($"event_type"))
  }

  /** The maintained state must equal a from-scratch aggregate, and the
    * refresh count is the fixture's chunk count. */
  def q144Sql: String =
    """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value,
       CAST(4 AS BIGINT) AS n_refreshes
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** q174 — watermark late-drop audit: the windowed count of q107 run
    * over a genuinely DISORDERED multi-batch replay, so the watermark
    * actually drops data — and the drops are reproduced row-for-row by
    * the relational oracle. The corpus is carved into 4 time-quarter
    * chunk files, but each event's chunk index is displaced by the q168
    * quadratic jitter, so a fraction of every chunk belongs to an
    * earlier quarter — late arrivals. Under maxFilesPerTrigger=1 the
    * watermark after batch k is (ms-truncated max event time of chunks
    * 1..k) − 1 h; a row in batch k whose hour-window END is ≤ the
    * watermark set after batch k−1 finds its window already finalized
    * and is DROPPED (the q107 emission gate, applied per batch instead
    * of once). The oracle recomputes chunk assignment, per-prefix
    * watermarks, the per-row drop verdict, and the final emission gate
    * in pure SQL — the strongest statement the engine can make that
    * its streaming semantics are UNDERSTOOD, not just observed.
    *
    * Scale: the operator under test is the q107/q27 windowed aggregate
    * (state = open windows only); the chunk carving is fixture prep.
    * The audit's production twin sizes the watermark delay from q168's
    * disorder histogram — this query SHOWS what the chosen delay
    * discards. */
  /** Carve the events table into 4 time-quarter chunk files whose
    * assignment is displaced by the q168 quadratic jitter scaled to
    * ±n/2 — a deterministically DISORDERED replay fixture (strays
    * arrive ≥2 batches after their quarter, past state eviction).
    * Shared by q174 (windowed agg), the q194/q195/q199 join family,
    * the q205 restart and the exactly-mergeable sketches. */
  private[graft] def disorderedChunks(spark: SparkSession, sfDir: String): String =
    Carve(spark, sfDir, "disorderedChunks", "events") {
      import spark.implicits._
      val raw = Tables.events(spark, sfDir)
      val n = raw.agg(max($"event_id")).head().getLong(0)
      // displacement up to ±n/2: a late stray can arrive ≥2 batches after
      // its time-quarter, i.e. AFTER its window was finalized — real drops
      val chunked = raw.withColumn("c",
        least(lit(4), greatest(lit(1), expr(
          s"(event_id - 1 + ((event_id * event_id) % 97 - 48) * ($n div 96))" +
            s" * 4 div $n + 1"))))
      (1 to 4).map(i => chunked.filter($"c" === i).drop("c"))
    }

  def q174WatermarkReplay(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("counts"))
    // BOUNDED memory drain: |hour grid| x |event types| rows per flush — time-grid-bounded
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("append").format("memory").queryName("wm_replay")))
    TempIo.materialize(spark,
      spark.table("wm_replay")
        .select(graft.engine.Exact.tsString($"window.start").as("ws"),
          $"event_type", $"counts")
        .orderBy($"ws", $"event_type"))
  }

  /** Relational model of the replay: chunk assignment → per-prefix
    * watermarks → per-row drop verdict → final emission gate.
    *
    * CALIBRATED, not assumed: the watermark filtering batch k's input
    * is the one computed from chunks 1..k−2 — a TWO-batch lag (Spark
    * commits the watermark derived from batch k−1's event-time stats
    * when batch k is already planned; it takes effect in batch k+1).
    * Verified by exact-match against the engine under all four
    * (lag ∈ {1,2}) × (≤ vs <) variants — only lag 2 reproduces the
    * emitted groups AND their counts. A row is dropped iff its
    * hour-window end ≤ that lagged watermark; a window emits iff its
    * end ≤ the final watermark (q107's ms-truncated gate) and it
    * retained ≥1 row. */
  def q174Sql: String =
    """WITH nn AS (SELECT max(event_id) AS n FROM events),
       a AS (
         SELECT event_id, ts, event_type,
           least(4, greatest(1,
             (event_id - 1 + ((event_id * event_id) % 97 - 48) * (n // 96))
               * 4 // n + 1)) AS c
         FROM events CROSS JOIN nn),
       m AS (SELECT c, max(ts) AS mx FROM a GROUP BY 1),
       pre AS (
         SELECT a.event_id, a.ts, a.event_type, a.c,
           (SELECT max(mx) FROM m WHERE m.c <= a.c - 2) AS wm_mx
         FROM a),
       kept AS (
         SELECT ts, event_type FROM pre
         WHERE wm_mx IS NULL
            OR epoch_ms(date_trunc('hour', ts)) + 3600000
               > epoch_ms(wm_mx) - 3600000),
       wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_final FROM events)
       SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
         event_type, count(*) AS counts
       FROM kept CROSS JOIN wm
       WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= wm_final
       GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** Drain a streaming frame through a scratch parquet file sink
    * (AvailableNow) and return the LAZY batch read-back — q63's result
    * path generalized for the stream-join/replay family: the join
    * output lands distributed in the sink and is re-read distributed,
    * so no row-scale streaming result ever transits the driver (the
    * `format("memory")` + materialize path this replaces pins the full
    * output in driver memory — fine at sf0.1, fatal at 100×). The sink
    * backs the returned plan, so it is a [[Replay.resultDir]]. The
    * explicit read schema covers the zero-output edge (an empty sink
    * has no footer to infer from). */
  private[graft] def drainToFileSink(spark: SparkSession, df: DataFrame): DataFrame =
    Replay.run(spark) { r =>
      val sink = r.resultDir("graft-ssink-")
      r.drain(df)(_.format("parquet").option("path", sink).outputMode("append"))
      spark.read.schema(df.schema).parquet(sink)
    }

  /** [[drainToFileSink]]'s UPDATE-mode sibling: file sinks accept only
    * append mode, so update-mode state emissions (the
    * mapGroupsWithState/transformWithState per-key progress rows whose
    * key space is users-scale) drain through foreachBatch — each
    * micro-batch's update rows land as one epoch-keyed parquet
    * directory, written by EXECUTOR tasks — and the batch read-back
    * reassembles the same multiset the memory sink would have held,
    * without any row transiting the driver. Epoch keying keeps a
    * replayed batch idempotent (q86's contract). */
  private[graft] def drainUpdatesToFiles(spark: SparkSession, df: DataFrame): DataFrame =
    Replay.run(spark) { r =>
      val sink = r.resultDir("graft-usink-")
      r.drain(df)(_.outputMode("update")
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          batch.write.mode("overwrite").parquet(s"$sink/epoch=$epochId")
        })
      spark.read.parquet(sink).select(df.schema.fieldNames.map(col).toSeq: _*)
    }

  /** q194 — stream-stream join under disorder: q42's interval join
    * (purchase ⋈ error within 12 h, per user) replayed over the q174
    * disordered 4-batch fixture, so join STATE eviction actually bites:
    * a pair whose two rows arrive far apart in batch order only forms
    * if the earlier row was still in state when the later one landed.
    * The oracle reproduces the surviving pair set relationally from the
    * calibrated watermark model (q174's two-batch commit lag): a pair
    * forms iff, at the later row's batch, the earlier row's eviction
    * bound (p_ts + the 12 h range for the left side, e_ts for the right) has not
    * fallen below the active watermark — late INPUT rows are also
    * dropped against the same lagged watermark. Streaming join
    * semantics derived and checked, not assumed. */
  /** One watermarked, tag-prefixed side of the q194/q195/q199 joins over
    * the disordered replay — shared, as [[intervalJoinSide]] is for the
    * ordered family. */
  private def disorderJoinSide(spark: SparkSession, sfDir: String,
      tag: String, eventType: String): DataFrame = {
    import spark.implicits._
    Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema)
      .filter($"event_type" === eventType)
      .select($"user_id".as(s"${tag}_user"), $"ts".as(s"${tag}_ts"),
        $"event_id".as(s"${tag}_id"))
      .withWatermark(s"${tag}_ts", "1 hour")
  }

  def q194StreamJoinDisorder(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, et: String) = disorderJoinSide(spark, sfDir, tag, et)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts" +
        " AND e_ts <= p_ts + interval 12 hours"))
    drainToFileSink(spark, joined)
      .select($"p_user".as("user_id"), $"p_id", $"e_id",
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000")
          .as("gap_s"))
      .orderBy($"user_id", $"p_id", $"e_id")
  }

  /** q195 — stream-stream LEFT OUTER join under disorder: the last open
    * cell of the streaming-join matrix (q97 = outer on an ordered
    * single-batch stream, q194 = inner under disorder). Same disordered
    * 4-chunk replay and interval condition as q194, but unmatched
    * purchases must ALSO flush null-padded once the watermark proves no
    * error can still match — so the oracle has to reproduce BOTH
    * deterministic sets at once: q194's surviving pair set (input drops
    * + condition-derived state eviction under the two-batch-lag
    * watermark) and q97's null-padding flush set (never-matched left
    * rows whose 12 h match window closed below the final min-of-sides
    * watermark). A purchase whose match was prevented by the DISORDER
    * (its error dropped late or evicted early) correctly reappears here
    * null-padded — exactly the rows a naive "outer = inner ∪ unmatched
    * in the batch join" model would miss. */
  def q195StreamOuterJoinDisorder(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, et: String) = disorderJoinSide(spark, sfDir, tag, et)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts" +
        " AND e_ts <= p_ts + interval 12 hours"),
      "left_outer")
    drainToFileSink(spark, joined)
      .select($"p_user".as("user_id"), $"p_id", $"e_id",
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000")
          .as("gap_s"))
      .orderBy($"user_id", $"p_id", $"e_id".asc_nulls_last)
  }

  /** q195's oracle = q194's calibrated inner model + the null-pad flush:
    * a non-late purchase with NO surviving pair is emitted null-padded
    * iff its match window closed below the FINAL watermark (min of the
    * two sides' full-corpus event-time maxima, ms-truncated, − 1 h —
    * the AvailableNow drain commits the last batch's stats, so the
    * flush gate carries no lag, same as q97/q107/q174's final gates;
    * verified by exact match at both SFs against lagged variants). */
  def q195Sql: String =
    """WITH nn AS (SELECT max(event_id) AS n FROM events),
       a AS (
         SELECT event_id, ts, user_id, event_type,
           least(4, greatest(1,
             (event_id - 1 + ((event_id * event_id) % 97 - 48) * (n // 96))
               * 4 // n + 1)) AS c
         FROM events CROSS JOIN nn),
       m AS (SELECT c,
           max(CASE WHEN event_type = 'purchase' THEN ts END) AS mxp,
           max(CASE WHEN event_type = 'error' THEN ts END) AS mxe
         FROM a GROUP BY 1),
       wmv AS (
         SELECT c2.c,
           least(
             (SELECT epoch_ms(max(mxp)) FROM m WHERE m.c <= c2.c - 2),
             (SELECT epoch_ms(max(mxe)) FROM m WHERE m.c <= c2.c - 2))
             - 3600000 AS wm
         FROM (SELECT DISTINCT c FROM a) c2),
       p AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'purchase'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       e AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'error'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       pairs AS (
         SELECT p.user_id, p.event_id AS p_id, e.event_id AS e_id,
           (epoch_us(e.ts) - epoch_us(p.ts)) // 1000000 AS gap_s,
           p.ts AS p_ts, e.ts AS e_ts, p.c AS cp, e.c AS ce
         FROM p JOIN e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 12 HOUR),
       alive AS (
         SELECT user_id, p_id, e_id, gap_s FROM pairs
         JOIN wmv wl ON wl.c = greatest(cp, ce)
         WHERE cp = ce OR wl.wm IS NULL
            OR (cp < ce AND epoch_ms(p_ts) >= wl.wm - 43200000)
            OR (ce < cp AND epoch_ms(e_ts) >= wl.wm)),
       wmf AS (
         SELECT least(
             (SELECT epoch_ms(max(mxp)) FROM m),
             (SELECT epoch_ms(max(mxe)) FROM m)) - 3600000 AS wm),
       npad AS (
         SELECT p.user_id, p.event_id AS p_id,
           CAST(NULL AS BIGINT) AS e_id, CAST(NULL AS BIGINT) AS gap_s
         FROM p CROSS JOIN wmf
         WHERE epoch_ms(p.ts) + 43200000 < wmf.wm
           AND NOT EXISTS (SELECT 1 FROM alive WHERE alive.p_id = p.event_id))
       SELECT user_id, CAST(p_id AS BIGINT) AS p_id,
         CAST(e_id AS BIGINT) AS e_id, CAST(gap_s AS BIGINT) AS gap_s
       FROM (SELECT * FROM alive UNION ALL SELECT * FROM npad)
       ORDER BY user_id, p_id, e_id NULLS LAST"""

  /** q199 — stream-stream FULL OUTER join under disorder, completing
    * the matrix (inner = q194, left = q195): BOTH sides now flush
    * null-padded on state eviction, so the oracle adds the error-side
    * flush set to q195's model — an error evicted unmatched (e_ts
    * below the final watermark, its purchase dropped late or itself
    * arrived too late to meet one) emits with null purchase columns.
    * The symmetric retention asymmetry is the point: purchases live
    * 12 h past their timestamp (the join range extends their useful
    * life), errors only to the watermark itself — so the two flush
    * gates differ exactly by the interval bound, and a model with a
    * symmetric gate fails the hash at both SFs. */
  def q199StreamFullOuterDisorder(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, et: String) = disorderJoinSide(spark, sfDir, tag, et)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts" +
        " AND e_ts <= p_ts + interval 12 hours"),
      "full_outer")
    drainToFileSink(spark, joined)
      .select(coalesce($"p_user", $"e_user").as("user_id"),
        $"p_id", $"e_id",
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000")
          .as("gap_s"))
      .orderBy($"user_id", $"p_id".asc_nulls_last, $"e_id".asc_nulls_last)
  }

  /** q195's model plus the error-side flush: an undropped error with no
    * surviving pair emits null-padded iff it fell below the final
    * watermark (no 12 h grace — the join range only extends PURCHASE
    * retention, the condition's e_ts ≥ p_ts gives errors nothing). */
  def q199Sql: String =
    """WITH nn AS (SELECT max(event_id) AS n FROM events),
       a AS (
         SELECT event_id, ts, user_id, event_type,
           least(4, greatest(1,
             (event_id - 1 + ((event_id * event_id) % 97 - 48) * (n // 96))
               * 4 // n + 1)) AS c
         FROM events CROSS JOIN nn),
       m AS (SELECT c,
           max(CASE WHEN event_type = 'purchase' THEN ts END) AS mxp,
           max(CASE WHEN event_type = 'error' THEN ts END) AS mxe
         FROM a GROUP BY 1),
       wmv AS (
         SELECT c2.c,
           least(
             (SELECT epoch_ms(max(mxp)) FROM m WHERE m.c <= c2.c - 2),
             (SELECT epoch_ms(max(mxe)) FROM m WHERE m.c <= c2.c - 2))
             - 3600000 AS wm
         FROM (SELECT DISTINCT c FROM a) c2),
       p AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'purchase'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       e AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'error'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       pairs AS (
         SELECT p.user_id, p.event_id AS p_id, e.event_id AS e_id,
           (epoch_us(e.ts) - epoch_us(p.ts)) // 1000000 AS gap_s,
           p.ts AS p_ts, e.ts AS e_ts, p.c AS cp, e.c AS ce
         FROM p JOIN e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 12 HOUR),
       alive AS (
         SELECT user_id, p_id, e_id, gap_s FROM pairs
         JOIN wmv wl ON wl.c = greatest(cp, ce)
         WHERE cp = ce OR wl.wm IS NULL
            OR (cp < ce AND epoch_ms(p_ts) >= wl.wm - 43200000)
            OR (ce < cp AND epoch_ms(e_ts) >= wl.wm)),
       wmf AS (
         SELECT least(
             (SELECT epoch_ms(max(mxp)) FROM m),
             (SELECT epoch_ms(max(mxe)) FROM m)) - 3600000 AS wm),
       npad AS (
         SELECT p.user_id, p.event_id AS p_id,
           CAST(NULL AS BIGINT) AS e_id, CAST(NULL AS BIGINT) AS gap_s
         FROM p CROSS JOIN wmf
         WHERE epoch_ms(p.ts) + 43200000 < wmf.wm
           AND NOT EXISTS (SELECT 1 FROM alive WHERE alive.p_id = p.event_id)),
       epad AS (
         SELECT e.user_id, CAST(NULL AS BIGINT) AS p_id,
           e.event_id AS e_id, CAST(NULL AS BIGINT) AS gap_s
         FROM e CROSS JOIN wmf
         WHERE epoch_ms(e.ts) < wmf.wm
           AND NOT EXISTS (SELECT 1 FROM alive WHERE alive.e_id = e.event_id))
       SELECT user_id, CAST(p_id AS BIGINT) AS p_id,
         CAST(e_id AS BIGINT) AS e_id, CAST(gap_s AS BIGINT) AS gap_s
       FROM (SELECT * FROM alive
             UNION ALL SELECT * FROM npad
             UNION ALL SELECT * FROM epad)
       ORDER BY user_id, p_id NULLS LAST, e_id NULLS LAST"""

  /** q205 — mid-stream RESTART over the disordered replay: chunks 1–2
    * drain to a checkpointed parquet sink (run 1 stops), chunks 3–4
    * arrive, and a SECOND query start resumes from the checkpoint —
    * q174's windowed aggregate, interrupted. Exactly-once across the
    * restart is the q63-spec contract; what THIS query pins is the
    * watermark consequence nobody documents: the run-1 drain COMMITS
    * the watermark derived from chunks 1–2, so the restart serves
    * chunk 3 a watermark one batch FRESHER than the uninterrupted q174
    * run would (whose two-batch lag still serves chunk-1 stats there).
    * A restart therefore never loses or duplicates on-time data, but
    * it can legally drop MORE late strays than the uninterrupted run —
    * the oracle models the restored-commit gate (see q205Sql) and
    * matches the engine exactly at both SFs; the unshifted and
    * naive-shift variants both fail the diff. */
  def q205RestartReplay(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val carve = disorderedChunks(spark, sfDir)
    Replay.run(spark) { r =>
      val src = r.dir("graft-rst-src-")
      val ckpt = r.dir("graft-rst-ckpt-")
      // lazy read-back (no driver materialization): the sink backs the plan
      val sink = r.resultDir("graft-rst-sink-")
      def drain(): Unit =
        r.drain(Carve.stream(spark, src, eventsNormSchema)
          .withWatermark("ts", "1 hour")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("counts"))
          .select($"window.start".as("ws_ts"), $"event_type", $"counts"), ckpt)(
          _.format("parquet").option("path", sink).outputMode("append"))
      Carve.stage(carve, src, Seq(1, 2))
      drain()
      Carve.stage(carve, src, Seq(3, 4))
      drain()
      spark.read.parquet(sink)
        .select(graft.engine.Exact.tsString($"ws_ts").as("ws"),
          $"event_type", $"counts")
        .orderBy($"ws", $"event_type")
    }
  }

  /** q174's model with the restart's watermark advance, CALIBRATED
    * (exact match at both SFs; the unshifted and shift-everything
    * variants both fail): run-1's drain commits the watermark from
    * chunks 1–2, so EVERY post-restart batch is filtered by the
    * restored stats(1..2) — chunk 3 because that is its planning-time
    * commit, chunk 4 because run 2's own commit pipeline carries the
    * same two-batch lag q174 pinned (its fresher commit lands only
    * after chunk 4 is planned). Pre-restart batches keep q174's
    * ≤ c−2 gate. */
  def q205Sql: String =
    """WITH nn AS (SELECT max(event_id) AS n FROM events),
       a AS (
         SELECT event_id, ts, event_type,
           least(4, greatest(1,
             (event_id - 1 + ((event_id * event_id) % 97 - 48) * (n // 96))
               * 4 // n + 1)) AS c
         FROM events CROSS JOIN nn),
       m AS (SELECT c, max(ts) AS mx FROM a GROUP BY 1),
       pre AS (
         SELECT a.event_id, a.ts, a.event_type, a.c,
           (SELECT max(mx) FROM m
            WHERE m.c <= (CASE WHEN a.c >= 3 THEN 2 ELSE a.c - 2 END))
             AS wm_mx
         FROM a),
       kept AS (
         SELECT ts, event_type FROM pre
         WHERE wm_mx IS NULL
            OR epoch_ms(date_trunc('hour', ts)) + 3600000
               > epoch_ms(wm_mx) - 3600000),
       wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_final FROM events)
       SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
         event_type, count(*) AS counts
       FROM kept CROSS JOIN wm
       WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= wm_final
       GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** q206 — MULTIPLE STATEFUL OPERATORS in one streaming query: q42's
    * stream-stream interval join feeding a windowed aggregation (pairs
    * per error-hour) in the SAME query — the chained-stateful shape
    * (join → agg) Spark only supports since the 3.4 watermark
    * propagation rework, and the natural form of every funnel metric
    * ("conversions per hour" = join then window). The downstream
    * aggregate keys on the error-side event time, whose watermark the
    * join PROPAGATES — the engine measurably withholds the final
    * pair-hour at sf0.01 (56 of 57 windows emit), proving the chained
    * operator is watermark-gated, not flush-everything. Calibration
    * history (current model in [[q206Sql]]'s scaladoc): round 8's −4 h
    * constant was calibrated on fixtures whose trailing hours had no
    * pairs (green by vacuity); the round-10 skewed carve pinned the
    * true gate at −5 h = 3 h side watermark + 2 h join interval
    * (−18000000 ms in the oracle) — recalibrate from q206Sql's
    * derivation, never from round-8 numbers. Pair COUNTS per window
    * are checked exactly everywhere. */
  def q206JoinThenWindow(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, eventType: String) =
      intervalJoinSide(spark, sfDir, tag, eventType)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + interval 2 hours"))
    val agg = joined
      .groupBy(window($"e_ts", "1 hour"))
      .agg(count(lit(1)).as("pairs"))
    // BOUNDED memory drain: |hour grid| windowed aggregate rows — time-grid-bounded
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("append").format("memory").queryName("join_then_window")))
    TempIo.materialize(spark,
      spark.table("join_then_window")
        .select(graft.engine.Exact.tsString($"window.start").as("ws"), $"pairs")
        .orderBy($"ws"))
  }

  /** Closure model: the aggregate emits a window when its end clears
    * the JOIN'S OUTPUT watermark, which Spark propagates as the input
    * watermark minus the join's event-time bound — the purchase side
    * is retained while p_ts + 2 h ≥ wm, so an output's e_ts can trail
    * the input watermark by up to the 2 h interval. Gate = ms-truncated
    * min(max p_ts, max e_ts) − 3 h delay − 2 h interval = −18000000 ms.
    * Round 8 calibrated −4 h from fixtures whose trailing hours had no
    * pairs (any gate in a ±1 h bracket was green by vacuity); the
    * round-10 SKEWED carve (hot user ⇒ pairs in every trailing hour)
    * pinned the true position one window lower — exactly the
    * miscalibration class the skew-stress validation exists to
    * surface. */
  def q206Sql: String =
    """WITH pairs AS (
         SELECT b.ts AS e_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM events WHERE event_type = 'error') b
           ON a.user_id = b.user_id
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR),
       wm AS (
         SELECT least(
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'),
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'error'))
           - 18000000 AS wm_final)
       SELECT strftime(date_trunc('hour', e_ts), '%Y-%m-%d %H:%M:%S') AS ws,
         count(*) AS pairs
       FROM pairs CROSS JOIN wm
       WHERE epoch_ms(date_trunc('hour', e_ts)) + 3600000 <= wm_final
       GROUP BY 1, wm_final ORDER BY ws"""

  /** q225 — CHAINED WINDOWED AGGREGATIONS (agg → agg): tumbling hourly
    * counts rolled up to daily totals in the SAME streaming query via
    * `window_time` — the other chained-stateful shape next to q206's
    * join → agg (both only legal since the watermark-propagation
    * rework), and the natural form of every multi-grain dashboard
    * (hour panel + day panel from one pass, no intermediate sink). The
    * daily operator keys on the hourly windows' event-time
    * (`window_time` = window end − 1 μs), whose watermark the first
    * aggregate propagates. Emitted days are provably COMPLETE: a day
    * emits only when its end clears the downstream gate, which never
    * leads the upstream gate, so every hour of that day has already
    * been finalized and delivered — partial daily totals are
    * impossible by construction (asserted in StreamingSpec against the
    * batch recomputation). Calibration: the downstream gate is the
    * upstream watermark itself (ms-truncated max ts − 1 h delay) — a
    * day emits iff day-end ≤ wm, bit-exact at sf0.001/0.01/0.1; no
    * extra propagation lag appears because the no-data flush batch
    * re-evaluates BOTH operators with the final watermark (unlike
    * q206, whose JOIN lowers its output watermark by the join's 2 h
    * interval bound — see q206Sql's closure-model scaladoc).
    *
    * Scale: state is O(types × open hours) + O(types × open days) —
    * the rollup never re-keys raw events (the first shuffle reduces
    * |events| → |type×hour| before the second), exactly how a 100 TB
    * multi-grain pipeline must cascade. */
  def q225WindowRollup(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val hourly = readEventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("hourly_n"))
    val daily = hourly
      .groupBy(window(window_time($"window"), "1 day"), $"event_type")
      .agg(sum($"hourly_n").as("counts"), count(lit(1)).as("n_hours"))
    // BOUNDED memory drain: |day grid| rollup rows — time-grid-bounded
    Replay.run(spark)(_.drain(daily)(
      _.outputMode("append").format("memory").queryName("window_rollup")))
    TempIo.materialize(spark,
      spark.table("window_rollup")
        .select(graft.engine.Exact.tsString($"window.start").as("ds"),
          $"event_type", $"counts", $"n_hours")
        .orderBy($"ds", $"event_type"))
  }

  /** Oracle mirror: a day [d, d+1d) emits iff d + 1 d ≤ wm
    * (ms-truncated max ts − 1 h); its counts are ALL events of the day
    * (completeness: every hour of an emitted day is final), n_hours the
    * day's distinct non-empty hours. */
  def q225Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS ds,
       event_type, count(*) AS counts,
       count(DISTINCT date_trunc('hour', ts)) AS n_hours
       FROM events
       WHERE epoch_ms(date_trunc('day', ts)) + 86400000 <=
         (SELECT epoch_ms(max(ts)) FROM events) - 3600000
       GROUP BY 1, 2 ORDER BY ds, event_type"""

  /** q226 — OFFLINE STATE-STORE INTROSPECTION (Spark 4 state data
    * source): after draining q107's append-mode hourly aggregation into
    * a real checkpoint, read the checkpoint's state files back as a
    * DataFrame (`spark.read.format("statestore")`) — the windows still
    * OPEN at drain, i.e. exactly the complement of what append mode
    * emitted. Emitted ∪ state = the complete batch group-by
    * (spec-asserted partition proof), so the oracle is q107's gate
    * NEGATED: hours whose end exceeds the final watermark.
    *
    * This is the production debugging/auditing surface every streaming
    * platform needs — "what is my query holding, and why hasn't window
    * X emitted" answered from checkpoint files alone, no query restart,
    * no sink. Scale: the read is partition-parallel (one task per state
    * partition) and touches only state files — never the source topic —
    * so inspecting a 10⁹-key production checkpoint is a state-sized
    * scan, independent of corpus size. */
  def q226StateIntrospect(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    Replay.run(spark) { r =>
      val agg = readEventsStream(spark, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("counts"))
      // the read-back reads this checkpoint's state files
      val ckpt = r.dir("graft-q226-ckpt-")
      r.drain(agg, ckpt)(_.outputMode("append").format("noop"))
      // agg-buffer field for count(...) is named `count` in state v2
      TempIo.materialize(spark,
        spark.read.format("statestore").option("path", ckpt).load()
          .select(graft.engine.Exact.tsString($"key.window.start").as("ws"),
            $"key.event_type".as("event_type"),
            $"value.count".as("counts"))
          .orderBy($"ws", $"event_type"))
    }
  }

  /** Oracle = q107's emission gate negated: in state ⇔ not emitted. */
  def q226Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type, count(*) AS counts
       FROM events
       WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 >
         (SELECT epoch_ms(max(ts)) FROM events) - 3600000
       GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** q227 — CUSTOM TypedImperativeAggregate UNDER STREAMING STATE: the
    * library's KMV distinct-count sketch (functions/KmvAggregate, a
    * binary-buffered TypedImperativeAggregate) maintained across a
    * 4-chunk disordered replay — each micro-batch deserializes the
    * sketch buffer from the state store, merges the batch's partials,
    * and re-serializes. This is the combination none of q127 (batch
    * KMV) or q144 (streaming IVM over BUILTIN aggs) exercises: a
    * user-defined aggregation state surviving checkpointed micro-batch
    * boundaries. Because KMV merge is exact and order-free
    * (min_k(A∪B) = min_k(min_k(A)∪min_k(B))), the drained complete-mode
    * estimate equals the batch single-pass estimate no matter how the
    * disordered chunks sliced the stream — which is precisely what the
    * q127-recipe oracle checks.
    *
    * Scale: streaming state per (type) is k longs — the sketch IS the
    * state, so a 10⁹-user distinct-count dashboard holds k·|types|
    * longs of state instead of |users| dedup keys. */
  def q227StreamSketch(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema,
        ReplayFilesPerTrigger)
      .select($"event_type",
        conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
      .groupBy($"event_type")
      .agg(graft.functions.KmvAggregate.kmvDistinct($"hv", 32).as("kmv_est"))
    // BOUNDED memory drain: K KMV register rows per event_type — sketch-bounded
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("complete").format("memory").queryName("stream_sketch")))
    TempIo.materialize(spark,
      spark.table("stream_sketch")
        .select($"event_type", $"kmv_est")
        .orderBy($"event_type"))
  }

  /** q233 — STREAMING TOP-K under state: the bounded TopK Aggregator
    * (q38's map-side-truncating custom aggregate) maintained per
    * event_type across the 4-chunk disordered replay in complete mode
    * — the live leaderboard. Each micro-batch the state store holds
    * ONE k-row buffer per type (not the rows seen); merge is the total
    * order (value desc, event_id asc), so partial buffers commute
    * across batches and the drained stream result equals the batch
    * top-k EXACTLY — which is what the oracle checks (same discipline
    * as q227: the state is an exactly-mergeable summary, so streaming
    * adds no approximation). Complete-mode output is k·|types| rows —
    * the memory sink is the bounded-result contract here, not a
    * row-scale funnel.
    *
    * Scale posture: state per (type) is k structs; each batch ships at
    * most k rows per type per map task to the store — the streaming
    * twin of the q38 shuffle argument. */
  def q233StreamTopK(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema,
        ReplayFilesPerTrigger)
      .groupBy($"event_type")
      .agg(graft.functions.TopKAggregator.top_k(5)($"value", $"event_id")
        .as("top"))
    // BOUNDED memory drain: k rows per event_type (bounded top-k aggregate)
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("complete").format("memory").queryName("stream_topk")))
    TempIo.materialize(spark,
      spark.table("stream_topk")
        .select($"event_type", posexplode($"top").as(Seq("pos", "s")))
        .select($"event_type", ($"pos" + 1).cast("long").as("rank"),
          $"s.id".as("event_id"), $"s.score".as("value"))
        .orderBy($"event_type", $"rank"))
  }

  /** Batch top-5 per type by (value desc, event_id asc) — equal to the
    * streamed result because the buffer merge is the same total order. */
  def q233Sql: String =
    """SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
       FROM (
         SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rn
         FROM events)
       WHERE rn <= 5 ORDER BY event_type, rank"""

  /** q362 — STREAMING VALUE HISTOGRAM → QUANTILES: per event_type,
    * fixed-grid bucket counts (cents div 2500 — the value domain caps
    * the grid at ⌈max_value/25⌉ buckets, so state AND output are
    * domain-bounded, independent of row count) maintained across the
    * 4-chunk disordered replay in complete mode; the drained
    * histogram yields exact-on-the-grid p50/p99 (smallest bucket
    * whose cumulative count reaches the rank) — the streaming-latency
    * -percentile pattern where the sketch is a deterministic grid, so
    * streamed == batch EXACTLY and the oracle can gate it (the
    * q227/q233/q237 exactly-mergeable-state discipline; counts
    * commute across batches trivially).
    *
    * Scale posture: state is one counter per (type, bucket) —
    * domain-bounded; each micro-batch ships partial counts, not rows.
    * The drained frame is tiny, so its cumulative window (PARTITIONED
    * by type) is a bounded frame, not a funnel. */
  def q362StreamHistogram(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val agg = Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema,
        ReplayFilesPerTrigger)
      .select($"event_type",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 2500")
          .as("bucket"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
    // BOUNDED memory drain: ≤ ⌈max_value/25⌉ buckets per event_type
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("complete").format("memory").queryName("stream_histogram")))
    val h = spark.table("stream_histogram")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    TempIo.materialize(spark,
      h.withColumn("cum", sum($"n").over(w))
        .withColumn("total", sum($"n").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
        .groupBy($"event_type")
        .agg(max($"total").as("n_events"),
          min(when($"cum" >= expr("(total + 1) div 2"), $"bucket"))
            .as("p50_bucket"),
          min(when($"cum" >= expr("(99 * total + 99) div 100"), $"bucket"))
            .as("p99_bucket"),
          max($"bucket").as("max_bucket"))
        .orderBy($"event_type"))
  }

  /** Batch twin: identical grid, identical rank rule — streamed counts
    * commute, so the quantiles are bit-equal. */
  def q362Sql: String =
    """WITH b AS (
         SELECT event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 2500
             AS bucket,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2),
       c AS (
         SELECT event_type, bucket, n,
           sum(n) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS cum,
           sum(n) OVER (PARTITION BY event_type) AS total
         FROM b)
       SELECT event_type, CAST(max(total) AS BIGINT) AS n_events,
         CAST(min(CASE WHEN cum >= (total + 1) // 2 THEN bucket END)
           AS BIGINT) AS p50_bucket,
         CAST(min(CASE WHEN cum >= (99 * total + 99) // 100 THEN bucket
           END) AS BIGINT) AS p99_bucket,
         CAST(max(bucket) AS BIGINT) AS max_bucket
       FROM c GROUP BY event_type ORDER BY event_type"""

  /** q237 — STREAMING EXACT BITMAP: q236's presence bitmaps maintained
    * per event_type across the disordered 4-chunk replay in complete
    * mode, set algebra applied to the DRAINED words — completing the
    * exactly-mergeable-state trio (KMV sketch q227, top-k buffer q233,
    * exact bitmap here). The state store holds one 2 KiB word array
    * per type; each micro-batch ORs the batch's bits in, and because
    * word-OR is order/batching-independent the streamed set
    * cardinalities are BIT-EQUAL to the batch ones — same oracle
    * as q236, which is the point: delivery disorder cannot move an
    * exact mergeable summary. */
  def q237StreamBitmap(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    import graft.functions.BitmapAggregate._
    val agg = Carve.stream(spark, disorderedChunks(spark, sfDir), eventsNormSchema,
        ReplayFilesPerTrigger)
      .filter($"event_type".isin("purchase", "error"))
      .groupBy($"event_type")
      .agg(bitmapBits($"user_id", 16384).as("bm"))
    // BOUNDED memory drain: one fixed-width bitmap row per event_type
    Replay.run(spark)(_.drain(agg)(
      _.outputMode("complete").format("memory").queryName("stream_bitmap")))
    val bm = TempIo.materialize(spark, spark.table("stream_bitmap"))
    val p = bm.filter($"event_type" === "purchase").select($"bm".as("pbm"))
    val e = bm.filter($"event_type" === "error").select($"bm".as("ebm"))
    p.crossJoin(broadcast(e))
      .select(
        popCount($"pbm").as("n_purchase"),
        popCount($"ebm").as("n_error"),
        popCountAnd($"pbm", $"ebm").as("n_both"),
        popCountOr($"pbm", $"ebm").as("n_either"))
      .select($"n_purchase", $"n_error", $"n_both", $"n_either",
        round($"n_both".cast("double") / $"n_either".cast("double"), 6)
          .as("jaccard"))
  }

  /** Identical to q236's oracle — the bitmap is exact and its merge is
    * delivery-order-free, so streaming changes nothing. */
  def q237Sql: String = graft.engine.Relational24.q236Sql

  /** q127's oracle recipe (identical md5-hash KMV arithmetic), minus
    * the exact column — stream == batch because the merge is exact. */
  def q227Sql: String =
    """WITH h AS (
         SELECT DISTINCT event_type,
           list_reduce(list_transform(range(1, 9), i ->
             strpos('0123456789abcdef',
               substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
             (a, b) -> a * 16 + b) AS hv
         FROM events),
       kth AS (
         SELECT event_type, hv FROM (
           SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
           FROM h)
         WHERE rn = 32),
       cnt AS (SELECT event_type, count(*) AS nh FROM h GROUP BY 1)
       SELECT cnt.event_type,
         CAST(COALESCE((31 * 4294967296) // kth.hv, cnt.nh) AS BIGINT)
           AS kmv_est
       FROM cnt LEFT JOIN kth USING (event_type)
       ORDER BY event_type"""

  /** q208 — stream-static AS-OF enrichment: the streaming fact joined
    * against a VERSIONED (SCD2-interval) dimension on equi-key PLUS
    * interval containment (`ts ∈ [valid_from, valid_to)`), the
    * production enrichment shape q89's plain equi join can't express —
    * "which tier was this user in WHEN the purchase happened", not
    * "which tier is the user in now". The dim (user × week tiers,
    * deterministically synthesized) broadcasts; the stream side never
    * shuffles; the join is stateless (static side re-resolved per
    * batch), so no watermark is involved — the contract is pure as-of
    * correctness, which the oracle reproduces with the same interval
    * predicate. */
  def q208StreamAsofEnrich(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val wk0 = graft.engine.Tables.events(spark, sfDir)
      .agg(min(date_trunc("week", $"ts"))).head().getTimestamp(0)
    val weeks = (0 until 5).map { i =>
      (i.toLong, new java.sql.Timestamp(wk0.getTime + i * 7L * 86400000L),
        new java.sql.Timestamp(wk0.getTime + (i + 1) * 7L * 86400000L))
    }.toDF("w", "valid_from", "valid_to")
    val dim = graft.engine.Tables.events(spark, sfDir)
      .select($"user_id".as("d_user")).distinct()
      .crossJoin(broadcast(weeks))
      .withColumn("tier", ($"d_user" * 7 + $"w") % 3)
    val enriched = projectIngest(readEventsStream(spark, sfDir))
      .filter($"event_type" === "purchase")
      .join(broadcast(dim),
        $"user_id" === $"d_user" &&
          $"ts" >= $"valid_from" && $"ts" < $"valid_to")
      .groupBy($"tier")
      .agg(count(lit(1)).as("n"),
        sum(graft.engine.Exact.cents($"value")).as("cents"))
    // BOUNDED memory drain: one row per tier (3) — complete-mode aggregate over a closed domain
    Replay.run(spark)(_.drain(enriched)(
      _.outputMode("complete").format("memory").queryName("asof_enrich")))
    TempIo.materialize(spark,
      spark.table("asof_enrich").orderBy($"tier"))
  }

  def q208Sql: String =
    """WITH wk AS (SELECT date_trunc('week', min(ts)) AS w0 FROM events),
       weeks AS (
         SELECT i AS w, w0 + i * INTERVAL 7 DAY AS valid_from,
           w0 + (i + 1) * INTERVAL 7 DAY AS valid_to
         FROM range(0, 5) r(i) CROSS JOIN wk),
       dim AS (
         SELECT u.user_id AS d_user, w, valid_from, valid_to,
           (u.user_id * 7 + w) % 3 AS tier
         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN weeks)
       SELECT tier, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS cents
       FROM events e JOIN dim d
         ON e.user_id = d.d_user
        AND e.ts >= d.valid_from AND e.ts < d.valid_to
       WHERE e.event_type = 'purchase'
       GROUP BY 1 ORDER BY tier"""

  /** Relational model of the disordered join replay — CALIBRATED to
    * exact pair-set equality at both test SFs over the full grid of
    * per-side gate/eviction variants:
    *  - the global watermark is the MIN of the two sides' event-time
    *    maxima (each side watermarks its own filtered stream), with
    *    q174's two-batch commit lag, ms-truncated, − 1 h delay;
    *  - INPUT rows on both sides are dropped below that raw watermark;
    *  - STATE retention honors the join-condition bound: an
    *    earlier-arrived purchase survives while p_ts + 12 h ≥ wm (the
    *    interval gives it 12 h of extra life), an earlier error only
    *    while e_ts ≥ wm (a future purchase must have p_ts ≥ wm and the
    *    condition needs e_ts ≥ p_ts).
    * This is Spark's documented constraint-derived state-watermark
    * behavior, here pinned bit-exactly by an independent engine. */
  def q194Sql: String =
    """WITH nn AS (SELECT max(event_id) AS n FROM events),
       a AS (
         SELECT event_id, ts, user_id, event_type,
           least(4, greatest(1,
             (event_id - 1 + ((event_id * event_id) % 97 - 48) * (n // 96))
               * 4 // n + 1)) AS c
         FROM events CROSS JOIN nn),
       m AS (SELECT c,
           max(CASE WHEN event_type = 'purchase' THEN ts END) AS mxp,
           max(CASE WHEN event_type = 'error' THEN ts END) AS mxe
         FROM a GROUP BY 1),
       wmv AS (
         SELECT c2.c,
           least(
             (SELECT epoch_ms(max(mxp)) FROM m WHERE m.c <= c2.c - 2),
             (SELECT epoch_ms(max(mxe)) FROM m WHERE m.c <= c2.c - 2))
             - 3600000 AS wm
         FROM (SELECT DISTINCT c FROM a) c2),
       p AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'purchase'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       e AS (
         SELECT a.user_id, a.ts, a.event_id, a.c
         FROM a JOIN wmv w USING (c)
         WHERE event_type = 'error'
           AND (w.wm IS NULL OR epoch_ms(a.ts) >= w.wm)),
       pairs AS (
         SELECT p.user_id, p.event_id AS p_id, e.event_id AS e_id,
           (epoch_us(e.ts) - epoch_us(p.ts)) // 1000000 AS gap_s,
           p.ts AS p_ts, e.ts AS e_ts, p.c AS cp, e.c AS ce
         FROM p JOIN e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 12 HOUR),
       alive AS (
         SELECT user_id, p_id, e_id, gap_s FROM pairs
         JOIN wmv wl ON wl.c = greatest(cp, ce)
         WHERE cp = ce OR wl.wm IS NULL
            OR (cp < ce AND epoch_ms(p_ts) >= wl.wm - 43200000)
            OR (ce < cp AND epoch_ms(e_ts) >= wl.wm))
       SELECT user_id, CAST(p_id AS BIGINT) AS p_id,
         CAST(e_id AS BIGINT) AS e_id, CAST(gap_s AS BIGINT) AS gap_s
       FROM alive ORDER BY user_id, p_id, e_id"""

  /** q250 — STREAMING NUMERIC STATE EVOLUTION: a per-user exponentially
    * weighted moving average (α = 1/4) maintained in
    * `mapGroupsWithState` across four TIME-ORDERED micro-batches — the
    * online-feature pattern (fraud scores, engagement decay, rate
    * estimators) where state is a NUMBER a fold updates, distinct from
    * every stateful shape already in the set (sessions, top-k buffers,
    * KMV registers, bitmaps). EWMA is order-sensitive, so the fixture
    * carve is by event-time QUARTER (a projection against broadcast
    * bounds — fixture prep, like q128's carve) and the fold sorts each
    * batch's slice by (ts, event_id) in memory: Spark's state API
    * guarantees key grouping per batch but NOT within-group order, so
    * the explicit sort is the correctness contract (bounded by one
    * user's slice of one batch). Cross-batch order then follows from
    * the time carve; ts ties cannot straddle chunks (chunk is a
    * function of ts alone).
    *
    * Arithmetic: value cents, s ← (v + 3s) div 4 — all-integer, so
    * shuffle order and engine cannot move a unit; the oracle replays
    * the identical fold via DuckDB's list_reduce. Emissions carry the
    * cumulative event count; the final state per user is the max-n
    * emission (`max_by`) — a user absent from later batches still
    * reports the EWMA after their true last event. Update-mode memory
    * sink holds |users|·batches rows (keys-scale; the row-scale
    * streams use the q63 file-sink path). At 100 TB this exact query
    * runs unchanged with a real trigger: state is two longs per key,
    * shuffles are per-batch slices keyed by user. */
  /** The physical schema of [[timeQuarterChunks]]' chunk files — the
    * read-side contract of every quarter-chunk replay (the
    * [[eventsNormSchema]] role, for the carved form): one definition so
    * a future column reaches all six readers or none. */
  private[graft] val quarterChunkSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  /** Events carved into four chunks by event-time QUARTER (a projection
    * against broadcast bounds) — the IN-ORDER replay fixture for
    * order-sensitive stateful folds (q250 EWMA, q258 hysteresis): batches
    * arrive in event-time order, and a ts tie can never straddle chunks
    * (chunk is a function of ts alone). q290 stages subsets of it. */
  private[graft] def timeQuarterChunks(spark: SparkSession, sfDir: String): String =
    Carve(spark, sfDir, "timeQuarterChunks", "events") {
      import spark.implicits._
      val raw = Tables.events(spark, sfDir)
        .select($"event_id", $"ts", $"user_id", $"value")
      val b = raw.agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"))
      val chunked = raw.crossJoin(broadcast(b))
        .withColumn("c",
          expr("(unix_micros(ts) - t0) * 4 div (t1 - t0 + 1) + 1"))
      (1 to 4).map(i => chunked.filter($"c" === i)
        .select($"event_id", $"ts", $"user_id", $"value"))
    }

  /** Events carved into four chunks by event_id pmod 4 (chunk i =
    * event_id % 4 == i−1) — the q128/q144 refresh fixture. Both
    * consumers' results are replay-order-invariant (q128 counts
    * per-batch emissions per window — a set — and q144's ⊕ merge is
    * commutative). */
  private[graft] def pmodChunks(spark: SparkSession, sfDir: String): String =
    Carve(spark, sfDir, "pmodChunks", "events") {
      import spark.implicits._
      val raw = Tables.events(spark, sfDir)
      (1 to 4).map(i => raw.filter(pmod($"event_id", lit(4)) === i - 1))
    }

  def q250StreamEwma(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val updates = Carve.stream(spark, timeQuarterChunks(spark, sfDir),
        quarterChunkSchema, ReplayFilesPerTrigger)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        graft.engine.Exact.cents($"value").as("units"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          val batch = it.toArray.sortBy(e => (e._2, e._3))
          var (n, s) = state.getOption.getOrElse((0L, 0L))
          batch.foreach { e =>
            // floorDiv, not `/`: the DuckDB oracle's `//` floors while
            // Scala's `/` truncates toward zero — they agree only on
            // non-negative operands (the repo's cross-engine division
            // rule), so the fold floors unconditionally rather than
            // leaning on the fixture's value-positivity.
            s = if (n == 0L) e._4 else Math.floorDiv(e._4 + 3L * s, 4L)
            n += 1L
          }
          state.update((n, s))
          (uid, n, s)
      }
    // users-scale update rows → epoch-keyed file drain, not the driver;
    // the sink backs the lazy result, so no driver materialization
    val drained = drainUpdatesToFiles(spark,
      updates.toDF("user_id", "n_events", "ewma_units"))
    drained
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        max_by($"ewma_units", $"n_events").as("ewma_units"))
      .orderBy($"user_id")
  }

  /** The identical integer fold over each user's time-ordered values:
    * list_reduce seeds with the first element, as the n==0 branch does. */
  def q250Sql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(list_reduce(
         list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              ORDER BY ts, event_id),
         (acc, v) -> (v + 3*acc) // 4) AS BIGINT) AS ewma_units
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** q258 hysteresis thresholds on the cents grid: an alert ARMS at
    * value ≤ $20 and FIRES at the first value ≥ $100 while armed (then
    * disarms) — the two-threshold debounce that keeps a flapping metric
    * from paging once per sample. */
  val AlertHighCents = 10000L
  val AlertLowCents = 2000L

  /** q258 — STREAMING HYSTERESIS ALERTING: per-user threshold alerts
    * with two-level debouncing, maintained in `mapGroupsWithState`
    * across the in-order quarter replay — the monitoring/paging shape
    * (disk-full alerts, fraud-velocity trips) the stateful family did
    * not yet cover: state is a FLIP-FLOP the event stream toggles, not
    * a number, session, or buffer. Starting armed, a high event (≥
    * [[AlertHighCents]]) fires exactly one alert and disarms; only a
    * low event (≤ [[AlertLowCents]]) re-arms. Equivalently — and this
    * is what makes the streaming run oracle-checkable — alerts =
    * maximal runs of H in each user's time-ordered H/L event string,
    * so the batch oracle is q252's signature machinery with `H+` run
    * counting, while the streaming side genuinely carries the armed
    * bit across micro-batches. Same order contract as q250: per-batch
    * in-group sort, cross-batch order from the time carve. Emissions
    * carry the cumulative seen-count; final state per user = max-n
    * emission. State: four longs per key. */
  def q258StreamAlerts(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val updates = Carve.stream(spark, timeQuarterChunks(spark, sfDir),
        quarterChunkSchema, ReplayFilesPerTrigger)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        graft.engine.Exact.cents($"value").as("units"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          val batch = it.toArray.sortBy(e => (e._2, e._3))
          var (nSeen, armed, nAlerts, nHigh) =
            state.getOption.getOrElse((0L, 1L, 0L, 0L))
          batch.foreach { e =>
            if (e._4 >= AlertHighCents) {
              nHigh += 1L
              if (armed == 1L) { nAlerts += 1L; armed = 0L }
            } else if (e._4 <= AlertLowCents) armed = 1L
            nSeen += 1L
          }
          state.update((nSeen, armed, nAlerts, nHigh))
          (uid, nSeen, nAlerts, nHigh)
      }
    // users-scale update rows → epoch-keyed file drain, not the driver;
    // the sink backs the lazy result, so no driver materialization
    val drained = drainUpdatesToFiles(spark,
      updates.toDF("user_id", "n_events", "n_alerts", "n_high"))
    drained
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        max_by($"n_alerts", $"n_events").as("n_alerts"),
        max_by($"n_high", $"n_events").as("n_high"))
      .orderBy($"user_id")
  }

  /** Alerts = maximal H-runs of the per-user time-ordered H/L string
    * (M events contribute the empty string): the first H of a run
    * finds the flip-flop armed — either stream start or a preceding L
    * — and every later H of the run finds it disarmed. */
  def q258Sql: String =
    s"""WITH sig AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           string_agg(CASE
             WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               >= $AlertHighCents THEN 'H'
             WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               <= $AlertLowCents THEN 'L'
             ELSE '' END, '' ORDER BY ts, event_id) AS s
         FROM events GROUP BY user_id)
       SELECT user_id, n_events,
         CAST(len(regexp_extract_all(s, 'H+')) AS BIGINT) AS n_alerts,
         CAST(len(regexp_extract_all(s, 'H')) AS BIGINT) AS n_high
       FROM sig ORDER BY user_id"""

  /** q266's [[org.apache.spark.sql.streaming.StatefulProcessor]]: a
    * per-user MAP state (event_type → running count) — the state-v2
    * API surface q96's ValueState cell doesn't exercise. MapState's
    * win at scale is PARTIAL access: each batch touches only the map
    * entries its rows name (RocksDB point lookups), where a
    * ValueState[Map[...]] would deserialize and rewrite the whole map
    * per key per batch. Emissions re-state the key's full current map;
    * counts are monotone, so the drained result is the max per
    * (user, type) — order-free, no in-batch sort needed (unlike the
    * q250/q258 folds). */
  private[graft] class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    @transient private var counts
      : org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("tc",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long)] = {
      rows.foreach { r =>
        val cur = if (counts.containsKey(r._2)) counts.getValue(r._2) else 0L
        counts.updateValue(r._2, cur + 1L)
      }
      counts.iterator().map { case (t, c) => (key, t, c) }.toSeq.iterator
    }
  }

  /** q266 — MAP STATE under streaming (transformWithState): per-user
    * per-event-type running counts maintained across the quarter
    * replay in a named MapState variable. Completes the state-v2
    * coverage (q96 = ValueState sessions; this = MapState point
    * updates); requires the RocksDB provider, scoped and restored
    * like q96. Drained result equals the batch (user, type) counts —
    * the oracle. */
  def q266StreamTypeCounts(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    withRocksDb(spark) {
      val src = timeQuarterChunks(spark, sfDir)
      // event_type is not in the quarter-chunk projection; re-derive it
      // deterministically from event_id via a broadcast join against the
      // batch table (fixture plumbing, not the operator)
      val types = Tables.events(spark, sfDir)
        .select($"event_id".as("eid"), $"event_type")
      val updates = Carve.stream(spark, src, quarterChunkSchema, ReplayFilesPerTrigger)
        .join(broadcast(types), $"event_id" === $"eid")
        .select($"user_id", $"event_type")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TypeCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, String, Long)]])
      // keys-scale append rows → distributed file-sink drain; the sink
      // backs the lazy result, so no driver materialization
      val drained = drainToFileSink(spark,
        updates.toDF("user_id", "event_type", "counts"))
      drained
        .groupBy($"user_id", $"event_type")
        .agg(max($"counts").as("counts"))
        .orderBy($"user_id", $"event_type")
    }
  }

  def q266Sql: String =
    """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS counts
       FROM events GROUP BY user_id, event_type
       ORDER BY user_id, event_type"""

  /** q267 recent-activity buffer depth. */
  val LastK = 5

  /** q267's [[org.apache.spark.sql.streaming.StatefulProcessor]]: TWO
    * named state variables per key — a ListState holding the last
    * [[LastK]] event ids (TRIMMED every batch: the buffer is the state
    * contract, so state stays O(K) per key no matter how long the
    * stream runs) and a ValueState with the cumulative event count.
    * With q266's MapState and q96's ValueState this exercises all
    * three state-v2 variable kinds, plus the multiple-named-variables
    * capability that the old one-blob APIs lacked. Trimming is
    * correct because arrival order IS event-time order here (in-order
    * carve + per-batch sort): the global last-K is always a suffix of
    * (previous last-K ++ this batch). */
  private[graft] class LastKProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, String)] {
    @transient private var buf
      : org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var nSeen
      : org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[Long]("lastk",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      nSeen = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, String)] = {
      val batch = rows.toArray.sortBy(e => (e._2, e._3))
      val merged = (buf.get().toSeq ++ batch.map(_._3)).takeRight(LastK)
      buf.put(merged.toArray)
      val n = (if (nSeen.exists()) nSeen.get() else 0L) + batch.length
      nSeen.update(n)
      Iterator.single((key, n, merged.mkString(",")))
    }
  }

  /** q267 — LIST STATE under streaming: each user's rolling
    * last-[[LastK]] event-id buffer (the "recent activity" feature
    * online models read) maintained across the quarter replay with a
    * per-batch trim, so state is bounded by K — the property that
    * distinguishes a production recent-N buffer from q250's unbounded
    * history-dependent folds. Drained result equals the batch
    * "5 most recent events per user, in time order" — the oracle. */
  def q267StreamLastK(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    withRocksDb(spark) {
      val updates = Carve.stream(spark, timeQuarterChunks(spark, sfDir),
          quarterChunkSchema, ReplayFilesPerTrigger)
        .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new LastKProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, Long, String)]])
      // keys-scale append rows → distributed file-sink drain; the sink
      // backs the lazy result, so no driver materialization
      val drained = drainToFileSink(spark,
        updates.toDF("user_id", "n_events", "last5"))
      drained
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          max_by($"last5", $"n_events").as("last5"))
        .orderBy($"user_id")
    }
  }

  /** The 5 most recent events per user, reported oldest-first —
    * exactly the trimmed buffer's content after the drain. */
  def q267Sql: String =
    s"""WITH base AS (
         SELECT user_id, event_id, ts,
           count(*) OVER (PARTITION BY user_id) AS n,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
         string_agg(CASE WHEN rn <= $LastK
           THEN CAST(event_id AS VARCHAR) END, ',' ORDER BY ts, event_id)
           AS last5
       FROM base GROUP BY user_id ORDER BY user_id"""

  /** q274 session gap (reuses the library-wide 30-minute contract) in
    * μs and in the ms grid timers live on. */
  val TimerGapUs: Long = graft.streaming.Sessionize.GapMinutes * 60000000L
  val TimerGapMs: Long = graft.streaming.Sessionize.GapMinutes * 60000L

  /** q274 watermark delay: must EXCEED one quarter-chunk's time span
    * (~7.5 days — the events fixture covers 30 days at every SF) so
    * the watermark at any data batch trails the current chunk's start
    * and no live session can be timer-closed while a within-gap
    * continuation is still in flight. 192 h = 8 days. */
  val TimerDelayHours = 192L

  /** q274's [[org.apache.spark.sql.streaming.StatefulProcessor]]:
    * session assembly closed by EVENT-TIME TIMERS — the state-v2
    * timer API (registerTimer / deleteTimer / handleExpiredTimer) the
    * q96/q266/q267 processors don't touch, and the production form of
    * session closure the q40/q96 scaladocs point at: an open session
    * emits when the WATERMARK passes end + gap, not at drain time.
    * One ValueState cell (start_us, end_us, n) per user; one live
    * timer per open session, re-registered when the session extends
    * (delete old expiry, register new) and deleted on event-driven
    * closure; `handleExpiredTimer` guards on the state's CURRENT
    * expiry matching the firing timer, so a stale timer (session
    * already closed or extended) is a no-op — which makes the emitted
    * set identical whether the engine processes a batch's input rows
    * before or after its expired timers. */
  private[graft] class TimerSessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var sess
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("tsess",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def expiryMs(endUs: Long): Long = endUs / 1000L + TimerGapMs

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(e => (e._2, e._3))
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      val pre = if (sess.exists()) Some(sess.get()) else None
      var cur = pre
      sorted.foreach { e =>
        cur match {
          case Some((s0, e0, n0)) if e._2 - e0 <= TimerGapUs =>
            cur = Some((s0, e._2, n0 + 1L))
          case Some((s0, e0, n0)) =>
            out += ((key, n0, s0, e0)) // event-driven closure
            cur = Some((e._2, e._2, 1L))
          case None =>
            cur = Some((e._2, e._2, 1L))
        }
      }
      // reconcile the key's single live timer with the open session
      val preExp = pre.map(p => expiryMs(p._2))
      val postExp = cur.map(c => expiryMs(c._2))
      if (preExp != postExp) {
        preExp.foreach(getHandle.deleteTimer)
        postExp.foreach(getHandle.registerTimer)
      }
      cur match {
        case Some(c) => sess.update(c)
        case None => sess.clear()
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] = {
      if (sess.exists()) {
        val (s0, e0, n0) = sess.get()
        if (expiryMs(e0) == expiredTimerInfo.getExpiryTimeInMs) {
          sess.clear()
          return Iterator((key, n0, s0, e0)) // watermark-driven closure
        }
      }
      Iterator.empty // stale timer: session already closed or extended
    }
  }

  /** q274 — EVENT-TIME TIMER sessionization (state-v2 timers): the
    * 30-minute-gap sessions of q39/q40/q96, closed the way a
    * PRODUCTION trigger closes them — by a per-key event-time timer
    * firing when the watermark passes session end + gap — instead of
    * the drain-time flush those queries use under AvailableNow. Runs
    * over the in-order quarter-chunk replay so the watermark actually
    * advances between micro-batches and timers genuinely fire
    * mid-stream (a session abandoned in chunk 1 is emitted by its
    * timer around chunk 3, when the watermark finally passes it) and
    * at the terminal no-data batch. The emitted set is deterministic
    * and watermark-model-reproducible: every session EXCEPT each
    * user's last one when its expiry (end/1000 + gap ms) has not
    * fallen strictly below the final watermark (ms-truncated max
    * event time − [[TimerDelayHours]]) — those stay open in state,
    * exactly what a live deployment would report. Timer-vs-event
    * closure racing is order-free by the stale-timer guard, and the
    * [[TimerDelayHours]] bound proves no within-gap continuation can
    * ever find its session prematurely timer-closed. */
  def q274TimerSessions(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    withRocksDb(spark) {
      val sessions = Carve.stream(spark, timeQuarterChunks(spark, sfDir), quarterChunkSchema)
        .withWatermark("ts", s"$TimerDelayHours hours")
        .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new TimerSessionProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Long)]])
      // sessions are row-scale → file-sink drain; the sink backs the
      // lazy result, so no driver materialization
      val drained = drainToFileSink(spark,
        sessions.toDF("user_id", "n_events", "start_us", "end_us"))
      drained.orderBy($"user_id", $"start_us")
    }
  }

  /** Oracle: batch 30-min-gap sessionization; the withheld set is each
    * user's LAST session whose timer expiry has not fallen strictly
    * below the final watermark (Spark tracks event-time stats in ms —
    * the q97 discipline). */
  def q274Sql: String =
    s"""WITH e AS (
         SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
       wm AS (
         SELECT epoch_us(max(ts)) // 1000 - ${TimerDelayHours * 3600000L}
           AS wm_ms
         FROM events),
       marked AS (
         SELECT user_id, tus, event_id,
           CASE WHEN lag(tus) OVER w IS NULL
                  OR tus - lag(tus) OVER w > $TimerGapUs
             THEN 1 ELSE 0 END AS new_s
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       sess AS (
         SELECT user_id, tus,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked),
       agg AS (
         SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
           min(tus) AS start_us, max(tus) AS end_us
         FROM sess GROUP BY 1, 2),
       last AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY 1)
       SELECT a.user_id, n_events, start_us, end_us
       FROM agg a JOIN last l USING (user_id) CROSS JOIN wm
       WHERE a.sid <> l.last_sid
          OR end_us // 1000 + $TimerGapMs < wm_ms
       ORDER BY a.user_id, start_us"""

  /** q276 — STREAM-STATIC ANTI JOIN: the streaming join matrix's last
    * uncovered cell (q89 = stream-static inner, q42/q97/q194-q199 =
    * stream-stream inner/outer): events from users with NO signup on
    * record, the "unattributed traffic" split every ingest pipeline
    * runs against a reference dimension. The static side (distinct
    * signup users, re-resolved per micro-batch) broadcasts; LEFT ANTI
    * keeps exactly the stream rows with no dimension match and never
    * duplicates the probe side — the set-membership contract a
    * NOT-IN-list filter would break on nulls and a hand-written outer
    * join + null filter would pay double for. Stateless (no watermark:
    * anti against a static frame needs no state), so append mode
    * drains per batch; the per-type aggregate keeps the output
    * |types|-bounded. */
  def q276StreamAntiJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    // the reference directory: users who signed up in the launch
    // window (first 2 days) — later arrivals are the unattributed set
    val ev = graft.engine.Tables.events(spark, sfDir)
    val t0 = ev.agg(min($"ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(t0.getTime + 2L * 86400000L)
    val signedUp = ev
      .filter($"event_type" === "signup" && $"ts" < lit(cutoff))
      .select($"user_id".as("dim_user")).distinct()
    val unattributed = readEventsStream(spark, sfDir)
      .join(broadcast(signedUp), $"user_id" === $"dim_user", "left_anti")
      .select($"user_id", $"event_type", $"event_id")
    // row-scale anti-join survivors → file-sink drain, then the
    // bounded per-type rollup
    drainToFileSink(spark, unattributed)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  def q276Sql: String =
    """WITH b AS (SELECT min(ts) AS t0 FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events e
       WHERE NOT EXISTS (
         SELECT 1 FROM events s CROSS JOIN b
         WHERE s.event_type = 'signup' AND s.user_id = e.user_id
           AND s.ts < b.t0 + INTERVAL 2 DAY)
       GROUP BY event_type ORDER BY event_type"""

  /** q300 — STREAM-STREAM LEFT SEMI interval join: purchases that had
    * an error within the 2 hours after them, each purchase emitted at
    * most ONCE — the EXISTS form of q42's inner interval join (which
    * fans a purchase out once per matching error). The semi is the
    * right operator when downstream only needs the flag: state and
    * output stay purchase-scale, never pair-scale. Both sides carry
    * the q42 watermarks (state cleanup at scale); with AvailableNow
    * every match is in-batch, so the drained result equals batch
    * EXISTS — the oracle.
    *
    * Scale: same keyed state as the inner join (shuffle both sides on
    * user), but emission dedups in-state, so a pathological error
    * burst can't amplify the output. Output is row-scale → file-sink
    * drain, never the driver. */
  def q300StreamSemiJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, eventType: String) =
      intervalJoinSide(spark, sfDir, tag, eventType)
    val joined = side("p", "purchase").join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + interval 2 hours"),
      "left_semi")
    drainToFileSink(spark, joined)
      .select($"p_user".as("user_id"), $"p_id")
      .orderBy($"user_id", $"p_id")
  }

  def q300Sql: String =
    """SELECT a.user_id, a.event_id AS p_id FROM events a
       WHERE a.event_type = 'purchase' AND EXISTS (
         SELECT 1 FROM events b
         WHERE b.event_type = 'error' AND b.user_id = a.user_id
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR)
       ORDER BY a.user_id, p_id"""

  /** q301 — MULTI-SOURCE UNION INGEST: two independent streaming
    * sources (the purchase topic and the error topic, here two file
    * streams over the same fixture) unioned into ONE watermarked
    * 6-hour windowed aggregation — the fan-in topology a multi-topic
    * ingest runs (the reference consumes a single topic; production
    * pipelines merge several). The watermark node sits ABOVE the
    * union, so event time advances with the max across BOTH sources
    * (one watermark node — no multi-watermark min policy involved).
    *
    * Append-mode gate mirrored by the oracle exactly as q107: a
    * window [s, s+6h) emits iff s+6h ≤ ms-truncated max unioned event
    * time − 1h. Output is time-grid×type scale and grows with stream
    * lifetime → file-sink drain. */
  def q301UnionIngest(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val purchases = readEventsStream(spark, sfDir)
      .filter($"event_type" === "purchase")
    val errors = readEventsStream(spark, sfDir)
      .filter($"event_type" === "error")
    val agg = purchases.unionByName(errors)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("counts"))
    drainToFileSink(spark, agg)
      .select(graft.engine.Exact.tsString($"window.start").as("ws"),
        $"event_type", $"counts")
      .orderBy($"ws", $"event_type")
  }

  def q301Sql: String =
    """WITH u AS (
         SELECT ts, event_type FROM events
         WHERE event_type IN ('purchase', 'error')),
       gate AS (SELECT epoch_ms(max(ts)) AS mx FROM u)
       SELECT strftime(make_timestamp((epoch_us(ts) // 21600000000)
                                      * 21600000000),
                       '%Y-%m-%d %H:%M:%S') AS ws,
         event_type, count(*) AS counts
       FROM u
       WHERE (epoch_us(ts) // 21600000000) * 21600000 + 21600000 <=
         (SELECT mx FROM gate) - 3600000
       GROUP BY 1, 2 ORDER BY ws, event_type"""

  /** q334 — THREE-WAY CHAINED STREAM-STREAM JOIN: signup → purchase
    * (within 30 days) → error (within 2 hours) for the same user, as
    * ONE streaming query with two chained interval joins — the
    * multi-stateful-operator topology (Spark ≥3.4's chained
    * time-interval joins) that a funnel-attribution pipeline runs
    * live. Every side carries its own watermark; the event-time
    * range conditions bound BOTH join states, so neither stage's
    * buffer grows past its window.
    *
    * With AvailableNow all matches land in-batch, so the drained
    * result equals the batch 3-way interval join — the oracle.
    * Output is triple-scale → file-sink drain. */
  def q334ThreeWayStreamJoin(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    def side(tag: String, eventType: String) =
      readEventsStream(spark, sfDir)
        .filter($"event_type" === eventType)
        .select($"user_id".as(s"${tag}_user"), $"ts".as(s"${tag}_ts"),
          $"event_id".as(s"${tag}_id"))
        .withWatermark(s"${tag}_ts", "1 hour")
    val sp = side("s", "signup").join(side("p", "purchase"),
        expr("s_user = p_user AND p_ts >= s_ts" +
          " AND p_ts <= s_ts + interval 30 days"))
      // exactly ONE event-time column may reach the next stateful
      // operator: demote the signup time to a plain BIGINT and keep
      // p_ts as the chain's event-time axis
      .select($"s_user", $"s_id", unix_micros($"s_ts").as("s_us"),
        $"p_user", $"p_ts", $"p_id")
    val spe = sp.join(side("e", "error"),
      expr("p_user = e_user AND e_ts >= p_ts" +
        " AND e_ts <= p_ts + interval 2 hours"))
    drainToFileSink(spark, spe)
      .select($"s_user".as("user_id"), $"s_id", $"p_id", $"e_id",
        expr("(unix_micros(p_ts) - s_us) div 86400000000")
          .as("signup_to_purchase_days"))
      .orderBy($"user_id", $"s_id", $"p_id", $"e_id")
  }

  def q334Sql: String =
    """SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id,
         e.event_id AS e_id,
         CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 86400000000 AS BIGINT)
           AS signup_to_purchase_days
       FROM events s
       JOIN events p ON s.user_id = p.user_id
         AND s.event_type = 'signup' AND p.event_type = 'purchase'
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 DAY
       JOIN events e ON p.user_id = e.user_id AND e.event_type = 'error'
         AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 2 HOUR
       ORDER BY s.user_id, s_id, p_id, e_id"""

  /** q377 — THROTTLED BACKFILL AUDIT: replay the disordered 4-chunk
    * carve with `maxFilesPerTrigger = 1` under AvailableNow and record,
    * per micro-batch, the row count and distinct-user count the batch
    * carried. Because chunk mtimes are PINNED strictly increasing
    * (the replay-order contract), batch i processes exactly chunk i+1,
    * so the per-batch census equals the per-chunk census the oracle
    * recomputes from the chunk-assignment formula — truncating
    * division and all. This is the knob a production backfill turns
    * (bounded work per trigger) and the audit proves the throttle
    * yields the declared batch boundaries, not an arbitrary re-split.
    *
    * Scale: each batch is one file-partition scan folded to two
    * scalars plus a distinct-user aggregate; the driver accumulates
    * exactly one 3-long tuple per batch (4 total) — bounded by the
    * chunk count, never by rows. */
  def q377ThrottledBackfill(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    val src = disorderedChunks(spark, sfDir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    Replay.run(spark)(_.drain(Carve.stream(spark, src, eventsNormSchema))(
      _.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
          val r = batch.agg(count(lit(1)), countDistinct(col("user_id")))
            .head()
          buf.synchronized { buf += ((epochId, r.getLong(0), r.getLong(1))) }
          ()
        }))
    TempIo.materialize(spark,
      buf.toSeq.toDF("batch_id", "n_rows", "n_users")
        .orderBy($"batch_id"))
  }

  /** Batch twin: re-derives each chunk's membership from the
    * displacement formula in [[disorderedChunks]], emulating
    * Spark's TRUNCATING integer division (DuckDB `//` floors; the
    * displaced offset goes negative for small ids, where the two
    * disagree — the repo's floor-division rule, applied in reverse). */
  def q377Sql: String =
    """WITH n AS (SELECT max(event_id) AS n FROM events),
       x AS (
         SELECT event_id, user_id,
           (event_id - 1 +
             ((event_id * event_id) % 97 - 48) * (n // 96)) * 4 AS x4,
           n
         FROM events, n),
       assigned AS (
         SELECT user_id,
           least(4, greatest(1,
             (CASE WHEN x4 >= 0 THEN x4 // n
                   ELSE -((-x4) // n) END) + 1)) AS c
         FROM x)
       SELECT CAST(c - 1 AS BIGINT) AS batch_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM assigned GROUP BY c ORDER BY batch_id"""

  /** q396 — STREAMED TABLE, PUSHED-DOWN READ: the ingest stream
    * writes through the connector's STREAMING half (q284's
    * exactly-once epoch publish), and the read-back aggregate then
    * engages the connector's AGGREGATE PUSHDOWN (q375) — per-file
    * count/min/max partials folded inside the readers over the very
    * part files the streaming epochs committed. The two halves
    * compose because the storage contract (part files + stats
    * sidecars) is identical on both write paths; Wave89Spec asserts
    * the read plan swaps to GraftAggScan. This is the full lifecycle
    * a connector-backed store runs: stream in, analytic read out,
    * nothing row-scale crossing the wire on either side.
    *
    * Scale: write side is per-epoch distributed staging; read side
    * moves one row per (file, group). */
  def q396StreamAggPushdown(spark: SparkSession, sfDir: String): DataFrame = withStatePartitions(spark) {
    import spark.implicits._
    Replay.run(spark) { r =>
      val out = r.dir("graft-sagg-")
      // readEventsStream's contract: ts is ALREADY normalized
      r.drain(readEventsStream(spark, sfDir)
        .select($"event_type".as("etype"), $"user_id".as("uid"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents")))(
        _.format("graftsink").option("path", out).outputMode("append"))
      TempIo.materialize(spark,
        spark.read.format("graftsink").load(out)
          .groupBy($"etype")
          .agg(count(lit(1)).as("n_events"),
            count($"uid").as("n_uid"),
            min($"cents").as("min_cents"),
            max($"cents").as("max_cents"))
          .orderBy($"etype"))
    }
  }

  def q396Sql: String =
    """SELECT event_type AS etype,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(user_id) AS BIGINT) AS n_uid,
         min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS min_cents,
         max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS max_cents
       FROM events GROUP BY 1 ORDER BY etype"""
}
