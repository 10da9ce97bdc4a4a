package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The one call scope: everything a query call borrows for its own
  * run, given back when the call ends, in reverse order, on every path.
  *
  *  - [[dir]]: a scratch dir, deleted when the call ends;
  *  - [[resultDir]]: a scratch dir backing the lazy frame the call
  *    returns, passed to [[TempIo.deleteAtExit]] if the call succeeds
  *    and deleted at once if it fails;
  *  - [[conf]]: session conf overrides; at the end each key gets back
  *    the caller's explicit value, or is unset if it had none.
  *
  * The caller's value is read from `getAll`, never `getOption`: on a
  * registered key `getOption` returns the default, and restoring that
  * would leave the key explicitly set (Spark's own `withSQLConf` test
  * helper uses the same rule). The scope takes no session, so a tool
  * that has none can still borrow dirs from it; `conf` names the
  * session it overrides. Scopes nest: an inner scope gives back its
  * settings before the outer one does. */
final class Scope private () {
  private val releases = ArrayBuffer.empty[Boolean => Unit]

  def dir(prefix: String): String = {
    val d = TempIo.createTempDir(prefix)
    releases += (_ => TempIo.deleteRecursively(d))
    d
  }

  def resultDir(prefix: String): String = {
    val d = TempIo.createTempDir(prefix)
    releases += (ok => if (ok) TempIo.deleteAtExit(d) else TempIo.deleteRecursively(d))
    d
  }

  def conf(spark: SparkSession, settings: (String, String)*): Unit = {
    val explicit = spark.conf.getAll
    settings.foreach { case (k, v) =>
      val prev = explicit.get(k)
      spark.conf.set(k, v)
      releases += (_ => prev.fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    }
  }
}

object Scope {

  def run[R](body: Scope => R): R = {
    val s = new Scope
    var ok = false
    try {
      val out = body(s)
      ok = true
      out
    } finally s.releases.reverseIterator.foreach(_(ok))
  }
}
