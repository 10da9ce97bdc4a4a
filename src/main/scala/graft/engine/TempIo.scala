package graft.engine

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-directory primitives under the call [[Scope]], which owns
  * every query-scoped dir (the batch roundtrips, the stream sinks and
  * checkpoints of [[graft.streaming.Replay]]). Bench runs every query
  * at least twice, so scratch space must be reclaimed by the call
  * itself or /tmp accretes a copy of the corpus per run. */
object TempIo {

  /** A fresh, uniquely named dir under `java.io.tmpdir`, open to its
    * owner only, as the JDK's temp-dir factory makes one. Query code
    * takes its dirs from a [[Scope]]; only the JVM-lifetime memos
    * (`Carve`, `Loops`) call this directly. */
  def createTempDir(prefix: String): String =
    Files.createDirectory(
      Paths.get(System.getProperty("java.io.tmpdir"), prefix + UUID.randomUUID()),
      PosixFilePermissions.asFileAttribute(PosixFilePermissions.fromString("rwx------"))
    ).toString

  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      // listFiles is null on I/O error / concurrent removal — skip, the
      // final delete() then just fails silently on a non-empty dir
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  private val exitPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val exitHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      exitPaths.forEach(p => deleteRecursively(p))
    })): Unit
  }

  /** Defer reclamation of a scratch directory to JVM exit — for scratch
    * space that backs a LAZY result plan still to be consumed by the
    * caller (Verify's parquet dump, Bench's evaluation), where eager
    * deletion would pull the rows through the driver first (the
    * [[materialize]] path this replaces for row-scale outputs) and
    * leaving it unregistered would leak a copy per JVM run. */
  def deleteAtExit(path: String): Unit = {
    exitHook
    exitPaths.add(path): Unit
  }

  /** Hard ceiling on [[materialize]] — the "small result" contract was
    * prose until round 10; now it is an assertion, so a future wave
    * cannot silently route a row-scale frame through the driver. Every
    * existing call site is a post-aggregation output well under this. */
  val MaterializeMaxRows = 100000

  /** Force a small result to driver memory and re-wrap it as a local
    * DataFrame, so scratch directories backing the lazy plan can be
    * deleted before the caller consumes the result. Only for
    * post-aggregation outputs (the roundtrip queries reduce to at most a
    * few thousand rows); never for row-scale data — enforced by the
    * [[MaterializeMaxRows]] assertion. */
  def materialize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    require(rows.length <= MaterializeMaxRows,
      s"TempIo.materialize drew ${rows.length} rows through the driver " +
        s"(limit $MaterializeMaxRows) — this helper is for post-aggregation " +
        "results only; write row-scale frames to scratch parquet and " +
        "deleteAtExit instead")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }
}
