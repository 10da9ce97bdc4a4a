package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one memo for derivations of the fixture tables: checkpointed
  * shared frames (the Dedup shingle/band indexes, the co-order graph),
  * loaded table schemas and the chunk carves. An entry is keyed by
  * `name(sfDir)` and is valid only while
  *
  *   - every table its build reads still carries the [[stamp]] it had
  *     when the entry was built, so a fixture rewritten in place is
  *     re-derived instead of served stale; and
  *   - for session-bound values, the caller is the creating session:
  *     checkpoint blocks live on that session's executors and a loaded
  *     schema can depend on its conf (nanosAsLong). A carve is files on
  *     disk and is shared across sessions.
  *
  * A replaced `DataFrame` value is unpersisted, best effort (its
  * session may already be stopped). Every build is reported to
  * [[MemoTrace]], so a timed query that pays for one is named. Builds
  * of one key are serialized; builds of different keys, including a
  * build that reads another memo, run concurrently. */
private[graft] object Memo {

  private final case class Entry(stamp: String, owner: SparkSession, value: Any)

  private val entries = TrieMap.empty[String, Entry]
  private val locks = TrieMap.empty[String, AnyRef]

  /** The memoized value of `build`, which reads the tables `reads` of
    * `sfDir`. `usable` is an extra validity check on a stamped entry
    * (a carve's chunk files must still exist). */
  def apply[T](spark: SparkSession, name: String, sfDir: String, reads: Seq[String],
      sessionBound: Boolean = true, usable: T => Boolean = (_: T) => true)(build: => T): T = {
    val key = s"$name($sfDir)"
    locks.getOrElseUpdate(key, new AnyRef).synchronized {
      val st = reads.map(t => stamp(spark, s"$sfDir/$t.parquet")).mkString(";")
      val owner = if (sessionBound) spark else null
      entries.get(key) match {
        case Some(e) if e.stamp == st && (e.owner eq owner) && usable(e.value.asInstanceOf[T]) =>
          e.value.asInstanceOf[T]
        case _ =>
          entries.remove(key).foreach(_.value match {
            case ds: Dataset[_] => try ds.unpersist() catch { case _: Throwable => () }
            case _ => ()
          })
          val value = build
          MemoTrace.built(key)
          entries(key) = Entry(st, owner, value)
          value
      }
    }
  }

  /** Content stamp of a fixture path: modification time and length of
    * the file, or of a directory and each of its part files (fixtures
    * are one file or a flat directory of parts, so an in-place rewrite
    * always moves it). Resolved through the path's own Hadoop
    * FileSystem: `java.io.File` reads 0:0 for hdfs://, s3a:// and other
    * non-local paths. A missing path stamps as "absent", so the build
    * fails with the reader's own error. */
  private def stamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val st = fs.getFileStatus(p)
      val parts = if (st.isDirectory) fs.listStatus(p).sortBy(_.getPath.getName).toSeq else Nil
      (st +: parts).map(s => s"${s.getModificationTime}:${s.getLen}").mkString(",")
    } catch { case _: java.io.FileNotFoundException => "absent" }
  }
}
