package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.types._

import graft.engine.TempIo
import graft.streaming.Streaming

/** Pins the mid-JVM fixture-regeneration staleness protections on BOTH
  * memoized derivations of the events fixture — and pins them through a
  * NON-`file:` scheme, because the r12 defect was exactly that the
  * protection keyed on `java.io.File` (mtime, size), which reads 0:0
  * for hdfs://s3a:// paths and so silently collapsed to a constant on
  * every deployment the protection exists for.
  *
  *   1. [[Streaming.eventsFooterSchema]]: a regenerated events.parquet
  *      under `mockdfs:` (different physical ts encoding, different
  *      stamp) must invalidate the cached schema — a stale hit here IS
  *      round 6's silent 1000× timestamp shrink.
  *   2. [[Streaming.timeQuarterChunks]] and [[Streaming.disorderedChunks]]:
  *      a regenerated events.parquet must rebuild the carved chunk
  *      files, not keep serving chunks of the OLD data to the replays.
  */
class FixtureStampSpec extends SparkTestBase {

  /** Write `df` as a single parquet FILE at `dest` (the fixture layout:
    * events.parquet is one file, not a directory) with a pinned mtime —
    * explicit, strictly different stamps per regeneration, immune to
    * filesystem timestamp granularity. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
      dest: String, mtimeMs: Long): Unit = {
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

  private def eventsFrame(n: Int, tsAsLongNanos: Boolean) = {
    import spark.implicits._
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

  test("eventsFooterSchema invalidates on fixture regeneration under a non-file scheme") {
    spark.sparkContext.hadoopConfiguration.set("fs.mockdfs.impl",
      classOf[MockDfsFileSystem].getName)
    val local = TempIo.createTempDir("stamp-footer-")
    try {
      val sfDir = "mockdfs:" + local
      // generation 1: ts physically TIMESTAMP (μs)
      writeSingleFile(eventsFrame(5, tsAsLongNanos = false),
        s"$local/events.parquet", 1000000000000L)
      val s1 = Streaming.eventsFooterSchema(spark, sfDir)
      assert(s1("ts").dataType == TimestampType)
      // cached: same stamp, same object back
      assert(Streaming.eventsFooterSchema(spark, sfDir) eq s1)

      // generation 2, SAME path, different encoding (long nanos) and a
      // different pinned mtime — under mockdfs java.io.File reads 0:0
      // for this path, so the pre-fix key could not tell the
      // generations apart and would keep serving s1.
      writeSingleFile(eventsFrame(5, tsAsLongNanos = true),
        s"$local/events.parquet", 1000000060000L)
      val s2 = Streaming.eventsFooterSchema(spark, sfDir)
      assert(s2("ts").dataType == LongType,
        s"stale footer schema survived fixture regeneration: got $s2")
    } finally {
      TempIo.deleteRecursively(local)
      spark.sparkContext.hadoopConfiguration.unset("fs.mockdfs.impl")
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
