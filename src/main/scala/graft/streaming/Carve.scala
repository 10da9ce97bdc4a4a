package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.{MemoTrace, TempIo}

/** The one chunk-carve primitive behind the chunk-replay fixtures: a
  * fixture table cut into `chunk1..chunkN.parquet` files that a file
  * stream replays one (or a few) per micro-batch. Carves are pure
  * functions of their source fixture, so each is built once per JVM and
  * shared by every query that replays it; readers are unaffected by the
  * sharing, because each opens its own stream and checkpoint over the
  * dir. */
private[graft] object Carve {

  /** (sfDir, carve name) → (source-fixture stamp, chunk count, dir). The
    * stamp rides in the value, so a regenerated fixture replaces its
    * entry instead of accreting one dead entry per generation. */
  private val memo = scala.collection.mutable.HashMap.empty[(String, String), (String, Int, String)]

  private def chunkFile(dir: String, i: Int): String = s"$dir/chunk$i.parquet"

  /** The carve `name` of `sfDir`'s `table` fixture: chunk i holds the
    * i-th frame of `chunks`, which is evaluated only when the carve is
    * (re)built. The memo is revalidated on every call, in both
    * directions of drift: the source fixture must carry the stamp the
    * chunks were carved from (a mid-JVM regeneration otherwise keeps
    * serving chunks of the old data, failing only later as opaque gate
    * hash mismatches), and every chunk file must still exist. The memo
    * owns the dir and reclaims it at JVM exit; callers must not delete
    * it. */
  def apply(spark: SparkSession, sfDir: String, name: String, table: String)(
      chunks: => Seq[DataFrame]): String = synchronized {
    val stamp = Streaming.fixtureStamp(spark, s"$sfDir/$table.parquet")
    memo.get((sfDir, name)).collect {
      case (`stamp`, n, d) if (1 to n).forall(i => new File(chunkFile(d, i)).exists()) => d
    }.getOrElse {
      val dir = TempIo.createTempDir(s"graft-$name-")
      val frames = chunks
      frames.zipWithIndex.foreach { case (df, k) => writeChunk(df, dir, k + 1) }
      MemoTrace.built(s"$name($sfDir)")
      TempIo.deleteAtExit(dir)
      memo((sfDir, name)) = (stamp, frames.size, dir)
      dir
    }
  }

  private def writeChunk(df: DataFrame, dir: String, i: Int): Unit = {
    val stage = s"$dir/stage$i"
    df.coalesce(1).write.parquet(stage)
    val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(chunkFile(dir, i)))
    pinMtime(dir, i)
    TempIo.deleteRecursively(stage)
  }

  /** FileStreamSource orders same-batch discoveries by modification
    * time, and every chunk-replay oracle models batch k = chunk k (the
    * order-sensitive folds q250/q258/q267 and the disorder/watermark
    * models alike). So chunk i's mtime is pinned strictly increasing by
    * its INDEX rather than left to filesystem timestamp granularity,
    * where coarse mtimes could tie and make micro-batch order undefined;
    * pinning by index keeps a staged subset (q205/q290: chunks 1–2,
    * restart, 3–4) in the same global order. */
  private def pinMtime(dir: String, i: Int): Unit =
    Files.setLastModifiedTime(Paths.get(chunkFile(dir, i)),
      FileTime.fromMillis(1000000000000L + i * 60000L))

  /** Stage chunks of a built carve into `dst` by FILE COPY: the
    * staged-restart queries (q205, q290) replay subsets of a memoized
    * carve, and a copy is byte-identical to it with re-pinned mtimes,
    * so the file stream replays the staged dir exactly as it replays
    * the carve itself, without a source scan and a write per chunk. */
  def stage(carveDir: String, dst: String, chunks: Seq[Int]): Unit =
    chunks.foreach { i =>
      Files.copy(Paths.get(chunkFile(carveDir, i)), Paths.get(chunkFile(dst, i)),
        StandardCopyOption.REPLACE_EXISTING)
      pinMtime(dst, i)
    }

  /** File-source stream over the chunks in `dir`, in chunk order,
    * `filesPerTrigger` chunks per micro-batch. */
  def stream(spark: SparkSession, dir: String, schema: StructType,
      filesPerTrigger: String = "1"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "chunk*.parquet")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)
}
