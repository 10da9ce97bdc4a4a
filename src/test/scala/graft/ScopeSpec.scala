package graft

import java.io.File

import graft.engine.{Formats, Scope, Tables, TempIo}

/** Pins the call [[Scope]]: every dir and conf override a call borrows
  * is given back on every path, in reverse order, to the caller's
  * explicit value or to unset; the engine's batch roundtrips leave no
  * scratch dir behind when they fail; and no query in `src/main` makes
  * a dir or unsets a conf key outside the scope. */
class ScopeSpec extends SparkTestBase {
  import FixtureStampSpec.writeSingleFile

  /** Registered keys: `getOption` reads their defaults, so only
    * `getAll` tells an explicit value from none. */
  private val Overwrite = "spark.sql.sources.partitionOverwriteMode"
  private val RowLimit = "spark.sql.cteRecursionRowLimit"

  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  private def exists(dir: String): Boolean = new File(dir).exists()

  test("a failing body gives back every dir and leaves an unset key unset") {
    spark.conf.unset(Overwrite)
    val made = collection.mutable.ArrayBuffer.empty[String]
    val boom = intercept[IllegalStateException] {
      Scope.run { s =>
        made += s.dir("graft-scope-a-")
        made += s.resultDir("graft-scope-b-")
        s.conf(spark, Overwrite -> "dynamic")
        assert(explicit(Overwrite).contains("dynamic"))
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom", "the body's own failure must propagate")
    assert(made.size == 2 && !made.exists(exists), s"a failed call left dirs behind: $made")
    assert(explicit(Overwrite).isEmpty,
      s"an unset key must stay unset after a failed call, got ${explicit(Overwrite)}")
  }

  test("on success the scratch dir is gone and the result dir stays for the lazy frame") {
    val (scratch, result) = Scope.run { s =>
      val d = s.dir("graft-scope-c-")
      val r = s.resultDir("graft-scope-d-")
      spark.range(3).write.parquet(s"$r/t")
      (d, r)
    }
    try {
      assert(!exists(scratch), "a call's scratch dir outlived it")
      assert(exists(result), "the result dir was deleted under its lazy frame")
      assert(spark.read.parquet(s"$result/t").count() == 3)
    } finally TempIo.deleteRecursively(result)
  }

  test("nested scopes give back the inner scope first, and a scope its own overrides in reverse") {
    spark.conf.unset(RowLimit)
    Scope.run { outer =>
      outer.conf(spark, RowLimit -> "10")
      val kept = outer.dir("graft-scope-e-")
      intercept[IllegalStateException] {
        Scope.run { inner =>
          inner.conf(spark, RowLimit -> "20")
          inner.conf(spark, RowLimit -> "30")
          inner.dir("graft-scope-f-")
          throw new IllegalStateException("inner")
        }
      }
      assert(explicit(RowLimit).contains("10"), "the inner scope must restore the outer value")
      assert(exists(kept), "the inner scope deleted the outer scope's dir")
      spark.conf.set(RowLimit, "40") // the caller's explicit value
      Scope.run(_.conf(spark, RowLimit -> "50"))
      assert(explicit(RowLimit).contains("40"), "an explicit value must come back as it was")
    }
    assert(explicit(RowLimit).isEmpty)
  }

  test("q49 failing after its scratch write leaves no graft-* dir") {
    import spark.implicits._
    val fixture = TempIo.createTempDir("scope-events-")
    try {
      // `value` is an array: the ORC copy is written, then the CSV
      // writer rejects the frame
      writeSingleFile((0L until 40L).map(id => (id, id % 3, "view", Seq(id.toDouble)))
        .toDF("event_id", "user_id", "event_type", "value")
        .selectExpr("event_id", "timestamp_micros(1700000000000000 + event_id * 60000000) as ts",
          "user_id", "event_type", "value", "'{}' as props"),
        s"$fixture/events.parquet", 1000000000000L)
      Tables.events(spark, fixture) // the schema memo is not the call's scratch
      val before = scratchDirs
      val e = intercept[Exception](Formats.q49FormatsRoundtrip(spark, fixture))
      assert(e.getMessage.contains("CSV"), s"q49 must fail in its CSV write: ${e.getMessage}")
      val leaked = scratchDirs -- before
      assert(leaked.isEmpty, s"a failed roundtrip left scratch dirs behind: $leaked")
    } finally TempIo.deleteRecursively(fixture)
  }

  test("q189 leaves partitionOverwriteMode unset") {
    spark.conf.unset(Overwrite)
    val before = scratchDirs
    assert(Formats.q189DynamicOverwrite(spark, sf).count() > 0)
    assert(explicit(Overwrite).isEmpty,
      s"q189 left $Overwrite explicitly set to ${explicit(Overwrite)}")
    assert((scratchDirs -- before).isEmpty)
  }

  /** Source sweep, like StreamStartSpec's: a hand-made temp dir or a
    * hand-written conf restore in `src/main` is scaffolding that leaks
    * on the first failure path nobody tested. Comment lines and the
    * primitive's own definition are skipped. */
  test("src/main makes dirs and unsets conf keys only through the scope") {
    val files = SourceSweep.files("src/main")
    assert(files.exists(_.getName == "Scope.scala"), "Scope.scala not found")
    val rules = Seq(
      ("""Files\.createTempDirectory""".r, Set.empty[String]),
      ("""(?<!def )\bcreateTempDir\(""".r, Set("Scope.scala", "Carve.scala", "Loops.scala")),
      ("""conf\.unset\(""".r, Set("Scope.scala")))
    val problems = for {
      f <- files
      (l, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toVector.zipWithIndex
      trimmed = l.trim
      if !(trimmed.startsWith("*") || trimmed.startsWith("/*") || trimmed.startsWith("//"))
      (pattern, owners) <- rules
      if !owners(f.getName) && pattern.findFirstIn(l).isDefined
    } yield s"${f.getPath}:${i + 1}: $trimmed"
    assert(problems.isEmpty,
      "borrow dirs and conf overrides through graft.engine.Scope:\n" + problems.mkString("\n"))
  }
}
