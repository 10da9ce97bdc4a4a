package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.SparkEntry.Query
import graft.engine.Tables

/** The dev tool: looks at catalog queries on one fixture directory.
  *
  *   tools/run.sh graft.tools.Run <mode> <sfDir> [query…]
  *
  * Queries are short (`q05`) or full names, run in the order given; none
  * means the whole catalog. The modes:
  *  - `time`: one warm run, then one timed `write.format("noop")`, the
  *    action perfbench times;
  *  - `explain`: `explain("formatted")`, for scan pruning, join choices
  *    and whole-stage-codegen coverage;
  *  - `plan`: the executed (AQE-final) plan of every action a query runs,
  *    which shows whether a ReusedExchange or an AQEShuffleRead fired;
  *  - `stream`: each micro-batch's `durationMs` phases and state-store
  *    commits, for the queries that drain a stream;
  *  - `skew`: AQE skew-join evidence on a `make_carve.py --skew` carve;
  *    it takes no queries.
  * Each mode takes a session, so a spec can call it. A query that fails
  * is reported and the rest still run; the mode then throws, naming it. */
object Run {
  val modes: Map[String, (SparkSession, String, Seq[(String, Query)]) => Unit] = Map(
    "time" -> time _, "explain" -> explain _, "plan" -> plan _, "stream" -> stream _,
    "skew" -> ((spark, sfDir, _) => skew(spark, sfDir)))

  def main(args: Array[String]): Unit = args.toList match {
    case mode :: sfDir :: names if modes.contains(mode) && (mode != "skew" || names.isEmpty) =>
      val queries = if (names.isEmpty) SparkEntry.queries.toSeq else SparkEntry.resolve(names)
      val spark = GraftSession(GraftSession.cores)
      try modes(mode)(spark, sfDir, queries) finally spark.stop()
    case _ =>
      System.err.println(
        s"usage: graft.tools.Run <${modes.keys.toSeq.sorted.mkString("|")}> <sfDir> [query...]")
      sys.exit(2)
  }

  private def each(queries: Seq[(String, Query)])(body: (String, Query) => Unit): Unit = {
    val failed = queries.flatMap { case (name, fn) =>
      try { body(name, fn); None }
      catch { case NonFatal(e) => System.err.println(s"$name failed: $e"); Some(name) }
    }
    if (failed.nonEmpty)
      throw new RuntimeException(s"${failed.size} queries failed: ${failed.mkString(", ")}")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.3f s"

  def time(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    each(queries) { (name, fn) =>
      noop(fn(spark, sfDir))
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      println(s"$name: ${seconds(t0)}")
    }

  def explain(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    each(queries) { (name, fn) =>
      println(s"\n======== $name ========")
      fn(spark, sfDir).explain("formatted")
    }

  /** Listener events, read once the listener bus has delivered them. */
  private final class Seen[E](spark: SparkSession) {
    private val buf = ArrayBuffer.empty[E]
    def add(e: E): Unit = buf.synchronized(buf += e)
    def take(): Vector[E] = {
      ListenerBusBridge.drain(spark)
      buf.synchronized { val v = buf.toVector; buf.clear(); v }
    }
  }

  def plan(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    val seen = new Seen[(String, String)](spark)
    val l = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(action -> qe.executedPlan.toString)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try each(queries) { (name, fn) =>
      seen.take()
      noop(fn(spark, sfDir))
      println(s"\n======== $name: executed plans, in action order ========")
      seen.take().zipWithIndex.foreach { case ((action, p), i) =>
        println(s"\n---- [$i] $action ----\n$p")
      }
    } finally spark.listenerManager.unregister(l)
  }

  private val Phases = Seq("triggerExecution", "latestOffset", "getBatch",
    "queryPlanning", "walCommit", "commitOffsets", "addBatch")

  def stream(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    val seen = new Seen[StreamingQueryProgress](spark)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.add(e.progress)
    }
    def ms(p: StreamingQueryProgress, phase: String): Long =
      p.durationMs.asScala.get(phase).fold(0L)(_.longValue)
    spark.streams.addListener(l)
    try each(queries) { (name, fn) =>
      seen.take()
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      println(s"== $name: ${seconds(t0)}")
      val batches = seen.take()
      batches.foreach { p =>
        val state = Option(p.stateOperators).toSeq.flatten.map(s =>
          s" | ${s.operatorName}: commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString
        println(s"  batch ${p.batchId} " +
          Phases.map(k => s"$k=${ms(p, k)}").mkString(" ") + state)
      }
      println(s"  TOTAL batches=${batches.size} " +
        Phases.map(k => s"$k=${batches.map(ms(_, k)).sum}").mkString(" "))
    } finally spark.streams.removeListener(l)
  }

  /** Observes Spark's own AQE skew-join handling on the skewed keys of a
    * `make_carve.py --skew` carve: an events self-join on `user_id` and
    * lineitem ⋈ supplier on `l_suppkey`. Thresholds are sized to the
    * carve (the defaults target 256 MB cluster partitions; a carve is
    * MBs, so the factors are under test, not the bytes) and set on a new
    * session, as `SkewJoinSpec` does. Prints, per join, whether the final
    * adaptive SortMergeJoin reports `isSkewJoin` and how many partitions
    * the hot key was split into.
    *
    * Both joins are raw ⋈ raw: OptimizeSkewedJoin matches only SMJ
    * children that are stage boundaries, so a build side that is a
    * same-key final aggregate hides the skew from AQE however hot the
    * probe side is (the q409 salting family covers that shape). */
  def skew(spark: SparkSession, sfDir: String): Unit = {
    val s = spark.newSession()
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // flag a partition ≥5× the median and ≥8 KB; split to ~8 KB
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      // keep the joins off the broadcast path: the shuffle join is the subject
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE splits a skewed partition by mapper ranges, so each scan
      // needs many map tasks
      "spark.sql.files.maxPartitionBytes" -> "256k",
      "spark.sql.shuffle.partitions" -> "32",
    ).foreach { case (k, v) => s.conf.set(k, v) }
    import s.implicits._

    // AQE wraps executed stages in QueryStageExec leaves, so recurse
    // through stage boundaries
    def smjsIn(p: SparkPlan): Seq[SortMergeJoinExec] = p.flatMap {
      case j: SortMergeJoinExec => Seq(j)
      case q: QueryStageExec => smjsIn(q.plan)
      case a: AdaptiveSparkPlanExec => smjsIn(a.executedPlan)
      case _ => Nil
    }
    def probe(name: String, df: DataFrame): Unit = {
      // collect(), not count(): count would run a sibling plan and leave
      // this one un-finalized
      val rows = df.collect().length
      val smjs = smjsIn(df.queryExecution.executedPlan)
      val skewed = smjs.filter(_.isSkewJoin)
      val splits = skewed.flatMap(_.collect {
        case r: AQEShuffleReadExec =>
          r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
      })
      println(s"$name: rows=$rows smj=${smjs.size} skewJoins=${skewed.size} " +
        s"isSkewJoin=${smjs.map(_.isSkewJoin).mkString(",")} " +
        s"skewSplitPartitions=${splits.mkString("/")}")
    }

    val ev = Tables.events(s, sfDir)
    // sparse raw dim: every 997th event's (user_id, value)
    val evDim = ev.filter($"event_id" % 997 === 0).select($"user_id", $"value".as("dim_v"))
    probe("events_join_user_id",
      ev.join(evDim, "user_id").groupBy($"event_type").agg(count(lit(1)).as("n"),
        sum(length($"props")).as("bytes"), max($"ts").as("mx"),
        sum($"value" + $"dim_v").as("val")))
    val supp = Tables.supplier(s, sfDir)
      .select($"s_suppkey".as("l_suppkey"), $"s_nationkey", $"s_acctbal")
    probe("lineitem_join_supplier",
      Tables.lineitem(s, sfDir).join(supp, "l_suppkey").groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), sum($"l_extendedprice").as("px"),
          max($"l_shipdate").as("mx"), sum($"l_quantity" * $"s_acctbal").as("qd")))
  }
}
