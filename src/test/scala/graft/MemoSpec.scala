package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Dedup, MemoTrace, TempIo}

/** Pins [[graft.engine.Memo]]'s two validity rules on a checkpointed
  * Dedup frame — a documents fixture rewritten in place and a new
  * session each rebuild it, an unchanged fixture on the same session
  * is a hit — and that no other fixture memo grows in `src/main`. */
class MemoSpec extends SparkTestBase {
  import FixtureStampSpec.writeSingleFile

  /** 40 documents of distinct words, except that the second doc of each
    * pair in `dups` copies the first one's text. */
  private def corpus(dups: Map[Long, Long]): DataFrame = {
    import spark.implicits._
    def text(id: Long) = Seq("alpha", "beta", "gamma", "delta", "epsilon").map(w => s"$w$id").mkString(" ")
    (0L until 40L).map(id => (id, text(dups.getOrElse(id, id)))).toDF("doc_id", "text")
  }

  /** q21's doc pairs that share both LSH bands, i.e. exact duplicates. */
  private def dupPairs(s: SparkSession, sfDir: String): Set[(Long, Long)] =
    Dedup.q21MinhashLsh(s, sfDir).filter("shared_bands = 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def builds(name: String): Int = MemoTrace.log.count(_._1 == name)

  private def withCorpusDir(body: String => Unit): Unit = {
    val local = TempIo.createTempDir("memo-docs-")
    try body(local) finally TempIo.deleteRecursively(local)
  }

  test("a documents fixture rewritten in place rebuilds its Dedup memo") {
    withCorpusDir { dir =>
      writeSingleFile(corpus(Map(20L -> 0L, 21L -> 1L)), s"$dir/documents.parquet", 1000000000000L)
      assert(dupPairs(spark, dir) == Set((0L, 20L), (1L, 21L)))
      assert(builds(s"corpusBands($dir)") == 1)

      writeSingleFile(corpus(Map(30L -> 5L)), s"$dir/documents.parquet", 1000000060000L)
      assert(dupPairs(spark, dir) == Set((5L, 30L)),
        "the memo served a frame built from the fixture before its rewrite")
      assert(builds(s"corpusBands($dir)") == 2)
    }
  }

  test("a new session rebuilds; the same session on an unchanged fixture hits") {
    withCorpusDir { dir =>
      writeSingleFile(corpus(Map(20L -> 0L)), s"$dir/documents.parquet", 1000000000000L)
      assert(dupPairs(spark, dir) == Set((0L, 20L)))
      assert(dupPairs(spark, dir) == Set((0L, 20L)))
      assert(builds(s"corpusBands($dir)") == 1)
      assert(builds(s"documents.schema($dir)") == 1)

      assert(dupPairs(spark.newSession(), dir) == Set((0L, 20L)))
      assert(builds(s"corpusBands($dir)") == 2)
      assert(builds(s"documents.schema($dir)") == 2)
    }
  }

  /** Source sweep, like GraftSessionSpec's: a `TrieMap` in `src/main`
    * outside Memo.scala is a cache with its own validity rule. */
  test("src/main keeps its memos only in Memo.scala") {
    val files = SourceSweep.files("src/main")
    assert(files.exists(_.getName == "Memo.scala"), "Memo.scala not found")
    val problems = for {
      f <- files if f.getName != "Memo.scala"
      (l, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toVector.zipWithIndex
      if l.contains("TrieMap")
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(problems.isEmpty, "memoize through graft.engine.Memo:\n" + problems.mkString("\n"))
  }
}
