package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: time individual SparkEntry queries under the Bench
  * session config (warm run + timed run each) without paying for a full
  * Bench pass. Usage: tools/run.sh graft.tools.TimeQuery <sfDir> <name>…
  */
object TimeQuery {
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
    val show = sys.env.get("SHOW").exists(_ == "1")
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
      if (show) fn(spark, sfDir).show(50, truncate = false)
    }
    spark.stop()
  }
}
