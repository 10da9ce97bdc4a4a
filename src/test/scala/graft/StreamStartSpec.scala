package graft

import java.io.File
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.jar.JarOutputStream

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ArtifactBridge
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{Tables, TempIo}
import graft.streaming.Streaming

/** Pins [[Streaming.startStream]]: a repeated stream run reuses the
  * JVM-wide codegen cache, the caller's artifact-isolation setting
  * survives every start, a session with its own artifacts keeps
  * isolation, no stream in `src/main` starts any other way, and no
  * stream lifecycle or chunk-file write lives outside
  * [[graft.streaming.Replay]] and [[graft.streaming.Carve]]. */
class StreamStartSpec extends SparkTestBase {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def isolationSetting(s: SparkSession = spark): Option[String] =
    s.conf.getAll.get(Isolation)

  /** Starts a file-source stream over the events table on `s`, counts
    * its rows in a foreachBatch callback and returns (rows, the stream
    * session's isolation setting as its batches saw it). */
  private def drainEvents(s: SparkSession): (Long, String) = {
    val ckpt = TempIo.createTempDir("graft-start-ckpt-")
    val rows = new AtomicLong
    val seen = new AtomicReference[String]
    try {
      val q = Streaming.startStream(s)(Streaming.readEventsStream(s, sf).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen.set(batch.sparkSession.conf.get(Isolation))
          rows.addAndGet(batch.count())
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      (rows.get, seen.get)
    } finally TempIo.deleteRecursively(ckpt)
  }

  test("a second run of q284 and q27 compiles no new code and returns the same rows") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "q284" -> Streaming.q284GraftSinkStream,
      "q27" -> Streaming.q27StreamWindow)
    val firsts = queries.map { case (_, fn) => fn(spark, sf).collect().toSeq }
    queries.zip(firsts).foreach { case ((name, fn), first) =>
      val before = compiles
      val second = fn(spark, sf).collect().toSeq
      assert(compiles - before == 0,
        s"$name recompiled ${compiles - before} classes on its second run")
      assert(second.nonEmpty && second == first, s"$name rows changed between runs")
    }
  }

  test("the caller's isolation setting is restored: unset, explicit true, and a failing start") {
    val prior = isolationSetting()
    try {
      spark.conf.unset(Isolation)
      val (rows, streamSaw) = drainEvents(spark)
      assert(rows == Tables.events(spark, sf).count())
      assert(streamSaw == "false", "the stream session must run without isolation")
      assert(isolationSetting().isEmpty, "an unset isolation must stay unset")

      spark.conf.set(Isolation, "true")
      drainEvents(spark)
      assert(isolationSetting().contains("true"))

      spark.conf.unset(Isolation)
      val blocker = File.createTempFile("graft-start-blocker-", "")
      try {
        // a checkpoint under a regular file cannot be created
        intercept[Exception] {
          Streaming.startStream(spark)(Streaming.readEventsStream(spark, sf).writeStream
            .format("noop")
            .option("checkpointLocation", s"${blocker.getPath}/ckpt")
            .trigger(Trigger.AvailableNow()))
        }
      } finally blocker.delete()
      assert(isolationSetting().isEmpty, "a failing start must still restore the setting")
    } finally prior match {
      case Some(v) => spark.conf.set(Isolation, v)
      case None => spark.conf.unset(Isolation)
    }
  }

  test("a session with its own artifacts keeps isolation for its streams") {
    val s = spark.newSession()
    val jar = File.createTempFile("graft-start-artifact-", ".jar")
    try {
      new JarOutputStream(new java.io.FileOutputStream(jar)).close()
      s.addArtifact(jar.getPath)
      assert(ArtifactBridge.sessionArtifactAdded(s))
      val (rows, streamSaw) = drainEvents(s)
      assert(streamSaw == "true", "session artifacts need the session's own loader")
      assert(rows == Tables.events(s, sf).count())
      assert(isolationSetting(s).isEmpty)
    } finally jar.delete()
  }

  private def sources(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
      else Nil
    }

  private lazy val mainSources: Seq[File] = {
    val files = sources(new File("src/main")).sortBy(_.getPath)
    assert(files.exists(_.getName == "Streaming.scala"), "src/main not found")
    files
  }

  /** Source sweep, like the plan sweeps in PlanAssertionsSpec: a
    * `DataStreamWriter.start()` (or `toTable`, which also starts a
    * stream) anywhere in `src/main` outside [[Streaming.startStream]]
    * would bring back one codegen compile per class per stream run. */
  test("no stream in src/main starts outside Streaming.startStream") {
    val starts = """\.(start|toTable)\(""".r
    val problems = mainSources.flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      // the helper's own body: from its def to the first blank line
      val helper =
        if (f.getName != "Streaming.scala") Set.empty[Int]
        else {
          val from = lines.indexWhere(_.contains("def startStream["))
          assert(from >= 0, "Streaming.startStream not found")
          (from until lines.indexWhere(_.trim.isEmpty, from)).toSet
        }
      lines.zipWithIndex.collect {
        case (l, i) if starts.findFirstIn(l).isDefined && !helper(i) =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
    assert(problems.isEmpty,
      "start streams through Streaming.startStream:\n" + problems.mkString("\n"))
  }

  /** The other half of the sweep: a stream's lifecycle (writer,
    * checkpoint, trigger, await) is typed only in the replay harness,
    * and chunk files are named and mtime-pinned only by the carve, so a
    * new streaming query cannot grow its own hand-rolled copy of
    * either. Comment lines are skipped; `"checkpointLocation"` is the
    * writer option, not the DataSourceV2 parameter of that name. */
  test("stream lifecycles live only in Replay and chunk files are written only by Carve") {
    val owned = Seq(
      "Replay.scala" -> """\.writeStream\b|awaitTermination|"checkpointLocation"|Trigger\.AvailableNow""".r,
      "Carve.scala" -> """setLastModifiedTime|chunk(\$\{[^}]*\}|\$\w+|\d+)\.parquet""".r)
    val problems = for {
      f <- mainSources
      (l, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toVector.zipWithIndex
      trimmed = l.trim
      if !(trimmed.startsWith("*") || trimmed.startsWith("/*") || trimmed.startsWith("//"))
      (owner, pattern) <- owned
      if f.getName != owner && pattern.findFirstIn(l).isDefined
    } yield s"${f.getPath}:${i + 1}: belongs in $owner: $trimmed"
    assert(mainSources.exists(_.getName == "Replay.scala") &&
      mainSources.exists(_.getName == "Carve.scala"), "harness sources not found")
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
