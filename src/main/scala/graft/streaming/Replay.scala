package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.engine.TempIo

/** The engine's one streaming replay harness: the lifecycle of the
  * reference's `writeStream` loop (consumer.scala:56-82), owned in one
  * place instead of re-typed at every stream site. A query body runs
  * inside [[Replay.run]] and gets a [[Replay]] that
  *
  *  - hands out scratch dirs: [[dir]] for ones the run alone uses,
  *    [[resultDir]] for ones that back the lazy frame the run returns;
  *  - drains streams ([[drain]]): `PlanProbe.record`, a call-scoped
  *    checkpoint (a restart query passes its own, shared by its runs),
  *    [[Streaming.startStream]], `Trigger.AvailableNow`, await.
  *
  * The body's read-back runs inside the harness; in `finally` the
  * harness stops any stream still active, deletes every [[dir]] (the
  * checkpoints included) and passes the [[resultDir]]s to
  * [[TempIo.deleteAtExit]], or deletes them too if the run failed. So
  * a stream whose batch or read-back throws leaves neither a scratch
  * dir nor an active query behind. */
private[graft] final class Replay private (spark: SparkSession) {
  private val scratch = ArrayBuffer.empty[String]
  private val backing = ArrayBuffer.empty[String]
  private val queries = ArrayBuffer.empty[StreamingQuery]

  /** A scratch dir deleted when the run ends. */
  def dir(prefix: String): String = {
    val d = TempIo.createTempDir(prefix)
    scratch += d
    d
  }

  /** A scratch dir backing the lazy result the run returns: reclaimed
    * at JVM exit if the run succeeds, at once if it fails. */
  def resultDir(prefix: String): String = {
    val d = TempIo.createTempDir(prefix)
    backing += d
    d
  }

  /** Drains `source` to completion through the sink `sink` configures,
    * checkpointed in a fresh [[dir]] unless the caller passes its own,
    * and returns the terminated query (its progress is the read-back
    * of q291). */
  def drain[T](source: Dataset[T], checkpoint: String = dir("graft-ckpt-"))(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val q = Streaming.startStream(spark)(
      sink(graft.plans.PlanProbe.record(source).writeStream)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()))
    queries += q
    q.awaitTermination()
    q
  }
}

private[graft] object Replay {

  def run[R](spark: SparkSession)(body: Replay => R): R = {
    val r = new Replay(spark)
    var ok = false
    try {
      val out = body(r)
      ok = true
      out
    } finally {
      r.queries.foreach(q => if (q.isActive) q.stop())
      r.scratch.foreach(TempIo.deleteRecursively)
      r.backing.foreach(if (ok) TempIo.deleteAtExit else TempIo.deleteRecursively)
    }
  }
}
