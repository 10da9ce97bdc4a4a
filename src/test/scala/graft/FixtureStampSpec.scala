package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.{Tables, TempIo}
import graft.streaming.Streaming

/** Pins [[graft.engine.Memo]]'s fixture-stamp validity on the
  * derivations of the events fixture, through a NON-`file:` scheme
  * where it matters: the r12 defect was a stamp read through
  * `java.io.File`, which reads 0:0 for hdfs://, s3a:// and `mockdfs:`
  * paths and so collapsed to a constant on every deployment the
  * protection exists for.
  *
  *   1. [[Tables.table]]: a regenerated events.parquet under `mockdfs:`
  *      (different physical ts encoding, different stamp) must be
  *      inferred again, and [[Streaming.readEventsStream]] must read it
  *      with its new schema — a stale schema here IS round 6's silent
  *      1000× timestamp shrink.
  *   2. [[Streaming.timeQuarterChunks]] and [[Streaming.disorderedChunks]]:
  *      a regenerated events.parquet must rebuild the carved chunk
  *      files, not keep serving chunks of the OLD data to the replays.
  */
class FixtureStampSpec extends SparkTestBase {
  import FixtureStampSpec.writeSingleFile

  private def eventsFrame(n: Int, tsAsLongNanos: Boolean) = {
    val base = spark.range(n.toLong).selectExpr(
      "id as event_id",
      "timestamp_micros(1700000000000000 + id * 1000000) as ts",
      "id % 3 as user_id",
      "'click' as event_type",
      "cast(id as double) as value",
      "'{}' as props")
    if (tsAsLongNanos)
      base.withColumn("ts",
        org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
    else base
  }

  /** Runs `body` on a fresh local dir and its `mockdfs:` name. */
  private def underMockDfs(prefix: String)(body: (String, String) => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.mockdfs.impl",
      classOf[MockDfsFileSystem].getName)
    val local = TempIo.createTempDir(prefix)
    try body(local, "mockdfs:" + local)
    finally {
      TempIo.deleteRecursively(local)
      spark.sparkContext.hadoopConfiguration.unset("fs.mockdfs.impl")
    }
  }

  test("Tables.table re-infers a regenerated fixture under mockdfs") {
    underMockDfs("stamp-schema-") { (local, sfDir) =>
      // generation 1: ts physically TIMESTAMP (μs)
      writeSingleFile(eventsFrame(5, tsAsLongNanos = false),
        s"$local/events.parquet", 1000000000000L)
      val s1 = Tables.table(spark, sfDir, "events").schema
      assert(s1("ts").dataType == TimestampType)

      // generation 2, SAME path, different encoding (long nanos) and a
      // different pinned mtime — java.io.File reads 0:0 for this path,
      // so a stamp taken through it cannot tell the generations apart
      writeSingleFile(eventsFrame(5, tsAsLongNanos = true),
        s"$local/events.parquet", 1000000060000L)
      val s2 = Tables.table(spark, sfDir, "events").schema
      assert(s2("ts").dataType == LongType,
        s"stale schema survived fixture regeneration: got $s2")
    }
  }

  test("readEventsStream reads a regenerated fixture under mockdfs") {
    /** (event_id, ts) of every row one AvailableNow run delivers. */
    def streamed(sfDir: String): Seq[(Long, java.sql.Timestamp)] = {
      val ckpt = TempIo.createTempDir("stamp-stream-ckpt-")
      val rows = new ConcurrentLinkedQueue[(Long, java.sql.Timestamp)]
      try {
        Streaming.startStream(spark)(Streaming.readEventsStream(spark, sfDir).writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.select("event_id", "ts").collect()
              .foreach(r => rows.add((r.getLong(0), r.getTimestamp(1))))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())).awaitTermination()
        rows.asScala.toSeq.sortBy(_._1)
      } finally TempIo.deleteRecursively(ckpt)
    }
    underMockDfs("stamp-stream-") { (local, sfDir) =>
      writeSingleFile(eventsFrame(5, tsAsLongNanos = false),
        s"$local/events.parquet", 1000000000000L)
      val first = streamed(sfDir)
      assert(first.map(_._1) == (0L until 5L))
      assert(first.head._2.toInstant.toEpochMilli == 1700000000000L)

      // the same instants, now carried as long nanos
      writeSingleFile(eventsFrame(5, tsAsLongNanos = true),
        s"$local/events.parquet", 1000000060000L)
      assert(streamed(sfDir) == first,
        "the stream read a regenerated fixture with its old schema")
    }
  }

  /** Carve `local`'s events fixture with `carve` before and after an
    * in-place regeneration (40 → 60 rows): the second carve must be a
    * rebuild over the NEW data, not a replay of the old chunks. */
  private def assertRebuiltOnRegeneration(name: String, schema: StructType)(
      carve: String => String): Unit = {
    val local = TempIo.createTempDir(s"stamp-$name-")
    def rows(dir: String) = spark.read.schema(schema)
      .option("pathGlobFilter", "chunk*.parquet").parquet(dir).count()
    try {
      writeSingleFile(eventsFrame(40, tsAsLongNanos = false),
        s"$local/events.parquet", 1000000000000L)
      val d1 = carve(local)
      // memoized while the fixture is unchanged
      assert(carve(local) == d1)
      assert(rows(d1) == 40)

      writeSingleFile(eventsFrame(60, tsAsLongNanos = false),
        s"$local/events.parquet", 1000000060000L)
      val d2 = carve(local)
      assert(d2 != d1, s"stale $name carve survived fixture regeneration")
      assert(rows(d2) == 60)
    } finally TempIo.deleteRecursively(local)
  }

  test("timeQuarterChunks rebuilds the carve when the source fixture changes") {
    assertRebuiltOnRegeneration("quarter", Streaming.quarterChunkSchema)(
      Streaming.timeQuarterChunks(spark, _))
  }

  test("disorderedChunks rebuilds the carve when the source fixture changes") {
    assertRebuiltOnRegeneration("disorder", Streaming.eventsNormSchema)(
      Streaming.disorderedChunks(spark, _))
  }
}

object FixtureStampSpec {

  /** Write `df` as a single parquet FILE at `dest` (the fixture layout:
    * each table is one file, not a directory) with a pinned mtime —
    * explicit, strictly different stamps per regeneration, immune to
    * filesystem timestamp granularity. */
  def writeSingleFile(df: DataFrame, dest: String, mtimeMs: Long): Unit = {
    val stage = TempIo.createTempDir("stamp-stage-")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.deleteIfExists(Paths.get(dest))
      Files.move(part.toPath, Paths.get(dest))
      Files.setLastModifiedTime(Paths.get(dest), FileTime.fromMillis(mtimeMs))
    } finally TempIo.deleteRecursively(stage)
  }
}
