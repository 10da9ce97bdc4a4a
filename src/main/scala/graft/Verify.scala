package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated subset (short or full names) for fast
    // local iteration; the driver always calls with 2 args → full run
    val only: Option[Set[String]] =
      if (args.length == 3) Some(SparkEntry.resolve(args(2).split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).map(_._1).toSet)
      else None
    val spark = GraftSession(GraftSession.cores)
    new java.io.File(outDir).mkdirs()
    // Fixture-contract canary: if the driver regenerated testdata with a
    // different physical schema (round 6 lost 113 queries to exactly
    // that), fail HERE with one named message instead of 100 downstream.
    graft.engine.Tables.assertFixtureContract(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        // a failure that strikes before the overwrite deletes anything
        // would leave a PREVIOUS run's parquet in place, and the driver
        // would hash-compare stale-but-green data — make it a hard miss
        // listFiles can be null (I/O error / concurrent removal); an NPE
        // escaping this catch would abort the whole verify run
        graft.engine.TempIo.deleteRecursively(s"$outDir/$name")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure-cause artifact: the driver's CORRECTNESS json records that a
    // query result is MISSING but not why. Dump query→exception so the
    // next round (and the judge) starts from causes, not absences. Written
    // to outDir and, when cwd is the repo, alongside the round artifacts.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_ERRORS.json"), errJson)
    try Files.writeString(Paths.get("VERIFY_ERRORS.json"), errJson)
    catch { case _: Exception => () }
    spark.stop()
  }
}
