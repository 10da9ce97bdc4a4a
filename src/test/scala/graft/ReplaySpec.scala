package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.engine.TempIo
import graft.streaming.Streaming

/** Pins the replay harness's failure path: a stream that fails inside
  * a micro-batch leaves no scratch or checkpoint dir under
  * `java.io.tmpdir` and no active query, whichever sink it drains to
  * and whoever owns its checkpoint. The failure is real: the fixture's
  * `event_type` column is an integer, so a chunk replay read with the
  * events schema (`event_type` a string) fails in the parquet reader,
  * inside the batch. */
class ReplaySpec extends SparkTestBase {

  /** A 40-row events fixture whose `event_type` is an integer, with its
    * disordered carve already built: the carve is a memo that outlives
    * any one query, so it is not the failing query's scratch. */
  private lazy val badFixture: String = {
    val dir = TempIo.createTempDir("replay-bad-")
    val stage = s"$dir/stage"
    spark.range(40L).selectExpr(
      "id as event_id",
      "timestamp_micros(1700000000000000 + id * 60000000) as ts",
      "id % 3 as user_id",
      "id % 5 as event_type",
      "cast(id as double) as value",
      "'{}' as props")
      .coalesce(1).write.parquet(stage)
    val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$dir/events.parquet"))
    TempIo.deleteRecursively(stage)
    TempIo.deleteAtExit(dir)
    Streaming.disorderedChunks(spark, dir)
    dir
  }

  /** The bad fixture's disordered chunks as a file stream with the
    * events schema. */
  private def failingStream: DataFrame =
    spark.readStream.schema(Streaming.eventsNormSchema)
      .option("pathGlobFilter", "chunk*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(Streaming.disorderedChunks(spark, badFixture))

  private def assertCleanFailure(run: => DataFrame): Unit = {
    failingStream // builds the fixture and its carve before the snapshot
    val before = scratchDirs
    intercept[Exception](run.collect())
    val leaked = scratchDirs -- before
    assert(leaked.isEmpty, s"a failed stream left scratch dirs behind: $leaked")
    assert(spark.streams.active.isEmpty, "a failed stream is still active")
  }

  test("a failing memory-sink stream leaves no checkpoint and no active query") {
    assertCleanFailure(Streaming.q174WatermarkReplay(spark, badFixture))
  }

  test("a failing file-sink stream leaves no sink, no checkpoint and no active query") {
    assertCleanFailure(Streaming.drainToFileSink(spark, failingStream))
  }

  test("a stream whose foreachBatch throws leaves no sink, no checkpoint and no active query") {
    assertCleanFailure(Streaming.drainUpdatesToFiles(spark, failingStream))
  }

  test("a failing restart query leaves none of its own dirs, its checkpoint included") {
    assertCleanFailure(Streaming.q205RestartReplay(spark, badFixture))
  }
}
