package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.engine.Scope

/** The engine's one streaming replay harness: the lifecycle of the
  * reference's `writeStream` loop (consumer.scala:56-82), owned in one
  * place instead of re-typed at every stream site. A query body runs
  * inside [[Replay.run]] and gets a [[Replay]] that
  *
  *  - hands out scratch dirs from the run's call [[Scope]]: [[dir]] for
  *    ones the run alone uses, [[resultDir]] for ones that back the
  *    lazy frame the run returns;
  *  - drains streams ([[drain]]): `PlanProbe.record`, a call-scoped
  *    checkpoint (a restart query passes its own, shared by its runs),
  *    [[Streaming.startStream]], `Trigger.AvailableNow`, await.
  *
  * The body's read-back runs inside the harness; in `finally` the
  * harness stops any stream still active, and only then does the
  * scope give its dirs back. So a stream whose batch or read-back
  * throws leaves neither a scratch dir nor an active query behind. */
private[graft] final class Replay private (spark: SparkSession, scope: Scope) {
  private val queries = ArrayBuffer.empty[StreamingQuery]

  def dir(prefix: String): String = scope.dir(prefix)

  def resultDir(prefix: String): String = scope.resultDir(prefix)

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

  def run[R](spark: SparkSession)(body: Replay => R): R = Scope.run { s =>
    val r = new Replay(spark, s)
    try body(r)
    finally r.queries.foreach(q => if (q.isActive) q.stop())
  }
}
