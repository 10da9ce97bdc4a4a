package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-batch breakdown of streaming query time (guide §1: measure before
  * touching the streaming family). Registers a StreamingQueryListener and
  * runs named SparkEntry queries under the Bench session config, printing
  * each micro-batch's durationMs components (triggerExecution = total;
  * addBatch = data plan; the rest is micro-batch machinery: offset
  * resolution, planning, WAL/offset commits) and the state-store commit
  * times, so "the streaming family is slow" decomposes into the actual
  * payer. Usage: tools/run.sh graft.tools.StreamProfile <sfDir> <name>…
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // catalog-sized codegen compile cache — see Bench.scala
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val events = ArrayBuffer.empty[(String, Long, Map[String, Long], String)]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
          .map(s => s"${s.operatorName}: commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}")
          .mkString("; ")
        events.synchronized {
          events += ((p.name, p.batchId, dur, st))
        }
      }
    })

    args.drop(1).foreach { name =>
      events.synchronized(events.clear())
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val t1 = System.nanoTime()
      println(f"== $name cold: ${(t1 - t0) / 1e9}%.3f s, $n rows")
      dump(events)
      events.synchronized(events.clear())
      val t2 = System.nanoTime()
      fn(spark, sfDir).count()
      val t3 = System.nanoTime()
      println(f"== $name warm: ${(t3 - t2) / 1e9}%.3f s")
      dump(events)
    }
    spark.stop()
  }

  private def dump(events: ArrayBuffer[(String, Long, Map[String, Long], String)]): Unit = {
    val snap = events.synchronized(events.toVector)
    val keys = Seq("triggerExecution", "latestOffset", "getBatch",
      "queryPlanning", "walCommit", "commitOffsets", "addBatch")
    snap.foreach { case (qn, bid, dur, st) =>
      val parts = keys.map(k => s"$k=${dur.getOrElse(k, -1L)}").mkString(" ")
      println(s"  batch $bid $parts ${if (st.nonEmpty) s"| $st" else ""}")
    }
    val totals = keys.map(k => k -> snap.map(_._3.getOrElse(k, 0L)).sum).toMap
    if (snap.nonEmpty)
      println(s"  TOTAL batches=${snap.size} " +
        keys.map(k => s"$k=${totals(k)}").mkString(" "))
  }
}
