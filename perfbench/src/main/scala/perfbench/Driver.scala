package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: one closed-loop client running a workload's
  * queries against one SparkSession, one query at a time.
  *
  * A timed query is `fn(spark, dir)` (construct), then
  * `df.queryExecution.executedPlan` (plan), then `df.write.format("noop")`
  * (execute): a full materialization that keeps every row, column and the
  * final sort. A pass runs every query once in an order shuffled by the
  * seed; an untimed warm pass comes first and is part of set-up, and an
  * untimed settle pass follows set-up. Each timed pass records its
  * wall-clock time and the JVM's CPU time.
  *
  * A run: set-up `setups=` times (the median is reported), timed passes
  * for `seconds=`, heap after a full GC, then the untimed oracle dump (each query's result as parquet under
  * `check=`). With `trace=1` it also attaches listeners and records spans
  * (run > pass > query > construct|plan|execute, stream batches under
  * construct), alternates traced and untraced passes to measure tracing
  * overhead, times `count()` per query and runs one pass at `local[1]`.
  *
  * Everything is written as JSON to `out=`; the Python side computes the
  * metrics.
  */
object Driver {
  type Query = (SparkSession, String) => DataFrame

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val data = a("data")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val queries = resolve(a("queries").split(",").toSeq)
    val out = new Json

    // Set-up, repeated `setups` times in this JVM: a fresh session with an
    // empty codegen cache, the fixture contract check and the warm pass.
    // The first also pays the JVM's class loading and JIT warm-up; only
    // the last is traced.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    var runSpan: Option[Int] = None
    val warmFailed = mutable.ArrayBuffer.empty[String]
    val nSetups = a("setups").toInt
    for (k <- 1 to nSetups) {
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(cores)
      // after the session exists: the first touch of CodeGenerator sizes
      // its cache from the active session's conf (10000, not the default)
      SparkInternals.clearCodegenCache()
      graft.engine.Tables.assertFixtureContract(spark, data)
      if (traced && k == nSetups) {
        tracer = Some(new Tracer(spark))
        runSpan = tracer.map(_.open("run", "run", -1))
        tracer.foreach(_.attach())
      }
      val setupSpan = tracer.map(_.open("setup", "warm", runSpan.get))
      queries.foreach { case (n, fn) =>
        timeQuery(spark, data, n, fn, tracer, setupSpan).left.foreach(e => warmFailed += s"$n: $e")
      }
      setupSpan.foreach(id => tracer.get.close(id))
      setups += (System.nanoTime() - s0) / 1e9
    }
    out.raw("setups_s", setups.mkString("[", ",", "]"))

    // one untimed settle pass: the JIT is still compiling what set-up
    // made hot, and the first pass after set-up used 10-30 % more CPU
    // than the ones after it
    tracer.foreach(_.detach())
    val settle0 = System.nanoTime()
    queries.foreach { case (n, fn) =>
      timeQuery(spark, data, n, fn, None, None).left.foreach(e => warmFailed += s"$n: $e")
    }
    out.num("settle_s", (System.nanoTime() - settle0) / 1e9)
    out.raw("warm_failed", Json.strs(warmFailed.toSeq))

    // timed passes; the traced run alternates traced and untraced passes
    val seconds = a("seconds").toDouble
    val rng = new scala.util.Random(seed)
    val memoBuilds0 = graft.engine.MemoTrace.log.size
    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = tracer.isDefined && p % 2 == 0
      if (tracer.isDefined) { if (on) tracer.get.attach() else tracer.get.detach() }
      val span = if (on) tracer.map(_.open("pass", s"pass$p", runSpan.get)) else None
      val ps = System.nanoTime()
      val pc = cpuNs
      val qs = rng.shuffle(queries).map { case (n, fn) =>
        timeQuery(spark, data, n, fn, if (on) tracer else None, span) match {
          case Right(t) => s"""{"q":"$n","construct":${t._1},"plan":${t._2},"execute":${t._3}}"""
          case Left(e) => s"""{"q":"$n","error":${Json.str(e)}}"""
        }
      }
      val wall = (System.nanoTime() - ps) / 1e9
      val cpu = (cpuNs - pc) / 1e9
      span.foreach(id => tracer.get.close(id))
      passes += s"""{"traced":$on,"wall":$wall,"cpu":$cpu,"queries":${qs.mkString("[", ",", "]")}}"""
      p += 1
    }
    tracer.foreach(_.attach())
    out.raw("passes", passes.mkString("[", ",", "]"))
    out.num("memo_builds_timed", graft.engine.MemoTrace.log.size - memoBuilds0)
    out.num("memo_storage_bytes",
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble)
    // the least heap in use over repeated full collections, once the
    // listener bus is empty: a collection can leave blocks that Spark's
    // cleanup thread releases only after it, so collect until the heap
    // stops shrinking (three to eight times)
    SparkInternals.drain(spark.sparkContext)
    out.num("heap_retained_mb", {
      def used = { System.gc(); Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
      val seen = mutable.ArrayBuffer(used, used)
      while (seen.size < 8 && (seen.size < 3 || seen(seen.size - 2) - seen.last > 0.5)) seen += used
      seen.min
    })

    tracer.foreach { tr =>
      // what count() measures next to the noop materialization
      out.raw("count_s", queries.map { case (n, fn) =>
        val s = System.nanoTime()
        val ok = try { fn(spark, data).count(); true } catch { case _: Throwable => false }
        s""""$n":${if (ok) (System.nanoTime() - s) / 1e9 else -1}"""
      }.mkString("{", ",", "}"))
      tr.close(runSpan.get)
      tr.detach()
      out.raw("spans", tr.spansJson)
    }

    // untimed oracle dump: one result per query, compared by the caller
    locally {
      val dir = a("check")
      val errs = queries.flatMap { case (n, fn) =>
        try { fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n"); None }
        catch { case e: Throwable => Some(s""""$n":${Json.str(String.valueOf(e.getMessage))}""") }
      }
      out.raw("check_errors", errs.mkString("{", ",", "}"))
      out.raw("oracle_sql", queries.map { case (n, _) =>
        s""""$n":${Json.str(graft.SparkEntry.oracleSql(n))}""" }.mkString("{", ",", "}"))
    }

    if (traced) {
      // single-thread baseline: fresh session at local[1], warm, one pass
      spark.stop()
      val one = session(1, partitions = cores)
      queries.foreach { case (n, fn) => timeQuery(one, data, n, fn, None, None) }
      val s = System.nanoTime()
      queries.foreach { case (n, fn) => timeQuery(one, data, n, fn, None, None) }
      out.num("local1_pass_s", (System.nanoTime() - s) / 1e9)
      one.stop()
    } else spark.stop()
    out.write(a("out"))
  }

  /** CPU time of every thread of this JVM (task threads, the driver,
    * GC and JIT), in ns. Time a thread spends waiting, for a core, for
    * I/O or while the hypervisor runs another guest, is not in it, so it
    * moves far less than wall-clock time when a shared host is busy. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Same confs as graft.Bench; the shuffle width tracks the core count. */
  def session(cores: Int, partitions: Int = -1): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", if (partitions > 0) partitions else cores)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Short names (`q05`) or full names to catalog entries; an unknown
    * name aborts the run. */
  def resolve(names: Seq[String]): Seq[(String, Query)] = names.map { n =>
    graft.SparkEntry.queries.find { case (k, _) => k == n || k.takeWhile(_ != '_') == n }
      .getOrElse(throw new IllegalArgumentException(s"unknown query $n"))
  }

  /** One consumer-paid query: (construct, plan, execute) seconds. */
  def timeQuery(spark: SparkSession, data: String, name: String, fn: Query,
      tracer: Option[Tracer], parent: Option[Int]): Either[String, (Double, Double, Double)] = {
    graft.engine.MemoTrace.payer.set(name)
    val q = tracer.map(_.open("query", name, parent.get))
    def phase[T](kind: String)(body: => T): (T, Double) = {
      val sp = tracer.map(_.open(kind, name, q.get))
      val s = System.nanoTime()
      try (body, (System.nanoTime() - s) / 1e9)
      finally sp.foreach(id => tracer.get.close(id))
    }
    try {
      val (df, c) = phase("construct")(fn(spark, data))
      val (_, p) = phase("plan")(df.queryExecution.executedPlan)
      tracer.foreach(_.planned(q.get, df.queryExecution))
      val (_, e) = phase("execute")(df.write.format("noop").mode("overwrite").save())
      Right((c, p, e))
    } catch {
      case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}")
    } finally {
      q.foreach { id => tracer.get.close(id); tracer.get.drain(id) }
    }
  }
}

/** Spans kept in memory, with counts from Spark's listeners attributed to
  * the open phase span through a job-local property. */
final class Tracer(spark: SparkSession) {
  private val Tag = "perfbench.span"
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val start: Long) {
    var end = 0L
    val counts = mutable.LinkedHashMap.empty[String, Double]
    // the driver thread and the listener threads both count into a span
    def add(k: String, v: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
    def max(k: String, v: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, v).max(v) }
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val jvm0 = mutable.Map.empty[Int, (Long, Long, Long)]
  /** the query span whose listener events are being collected */
  private val current = new AtomicReference[Span](null)

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def open(kind: String, name: String, parent: Int): Int = synchronized {
    val s = new Span(spans.size, parent, kind, name, nowUs)
    spans += s
    if (kind == "query") current.set(s)
    jvm0(s.id) = (CodeGenerator.compileTime, compiles, gcMs)
    spark.sparkContext.setLocalProperty(Tag, s.id.toString)
    open.push(s.id)
    s.id
  }

  def close(id: Int): Unit = synchronized {
    val s = spans(id)
    s.end = nowUs
    val (ct, cc, gc) = jvm0.remove(id).get
    s.add("codegen.compile_s", (CodeGenerator.compileTime - ct) / 1e9)
    s.add("codegen.compiles", (compiles - cc).toDouble)
    s.add("gc_s", (gcMs - gc) / 1e3)
    open.pop()
    spark.sparkContext.setLocalProperty(Tag, open.headOption.map(_.toString).orNull)
  }

  /** Planner phases and rule counts of the explicitly planned frame. */
  def planned(query: Int, qe: QueryExecution): Unit = synchronized { addTracker(spans(query), qe) }

  private def addTracker(s: Span, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      s.add(s"plan.${if (k == "planning") "physical" else k}_s",
        ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0))
    }
    qe.tracker.rules.foreach { case (rule, r) if rule.contains("graft") =>
      s.add("plan.graft_rules_s", r.totalTimeNs / 1e9)
      s.add("plan.graft_rule_runs", r.numInvocations.toDouble)
      s.add("plan.graft_rule_effective", r.numEffectiveInvocations.toDouble)
    case _ => }
  }

  /** Wait for the listener buses so every event of `query` is counted. */
  def drain(query: Int): Unit = {
    SparkInternals.drain(spark.sparkContext)
    current.compareAndSet(spans(query), null)
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tag))).map(id => synchronized(spans(id.toInt)))

  private val stageSpan = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      e.stageIds.foreach(st => stageSpan.synchronized(stageSpan(st) = s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.synchronized(stageSpan.get(e.stageId))
      val m = e.taskMetrics
      if (s.isDefined && m != null) {
        val sp = s.get
        sp.add("tasks", 1)
        sp.add("task_cpu_s", m.executorCpuTime / 1e9)
        sp.add("task_run_s", m.executorRunTime / 1e3)
        sp.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        sp.add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        sp.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        sp.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        sp.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        sp.add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        stageTasks.synchronized(stageTasks.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val runs = stageTasks.synchronized(stageTasks.remove(id)).getOrElse(Seq.empty).sorted
      stageSpan.synchronized(stageSpan.remove(id)).foreach { s =>
        if (runs.size >= 2) s.max("task_skew", runs.last.toDouble / math.max(1L, runs(runs.size / 2)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current.get).foreach(addTracker(_, qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val runQuery = mutable.Map.empty[java.util.UUID, Int]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Tracer.this.synchronized {
      open.headOption.foreach(runQuery(e.runId) = _)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val parent = Tracer.this.synchronized(runQuery.get(p.runId))
      parent.foreach { pid =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        val b = Tracer.this.synchronized {
          val b = new Span(spans.size, pid, "batch", spans(pid).name, start)
          b.end = start + d.getOrElse("triggerExecution", 0L) * 1000
          spans += b
          b
        }
        def ms(k: String) = d.getOrElse(k, 0L) / 1e3
        b.add("stream.input_rows", p.numInputRows.toDouble)
        b.add("stream.add_batch_s", ms("addBatch"))
        b.add("stream.planning_s", ms("queryPlanning"))
        b.add("stream.offsets_s", ms("latestOffset") + ms("getOffset") + ms("getBatch"))
        b.add("stream.commit_s", ms("walCommit") + ms("commitOffsets"))
        p.stateOperators.foreach { st =>
          b.add("state.commit_s", st.commitTimeMs / 1e3)
          b.add("state.rows_total", st.numRowsTotal.toDouble)
          b.add("state.memory_bytes", st.memoryUsedBytes.toDouble)
          b.add("state.rows_dropped_watermark", st.numRowsDroppedByWatermark.toDouble)
        }
        if (p.sink != null) b.add("sink.output_rows", math.max(0L, p.sink.numOutputRows).toDouble)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def spansJson: String = synchronized {
    spans.map { s =>
      val c = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_us":${s.start},"end_us":${s.end},"counts":$c}"""
    }.mkString("[", ",\n", "]")
  }
}

/** A flat JSON object written once at exit. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = v.toString
  def raw(k: String, v: String): Unit = fields(k) = v
  def write(path: String): Unit = Files.writeString(Paths.get(path),
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",\n", "}\n"))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}
