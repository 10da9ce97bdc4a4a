package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, `tools.Run`
  * and the test base all take their session from here, so their
  * settings cannot drift apart. */
object GraftSession {

  /** Whole-stage-codegen compile cache (a static conf; Spark's default
    * is 100 entries). A 415-query catalog holds thousands of distinct
    * codegen units, so at the default size every pass recompiles every
    * plan: measured at 34% of a 20-query subset's wall-clock
    * (OPTIMIZATION_r15.md). Any long-lived multi-query driver raises
    * exactly this. 10k entries of compiled classes is tens of MB of
    * metaspace, far under the driver heap. */
  val CodegenCacheEntries = 10000

  /** Local cores for the driver mains: `SPARK_GRAFT_CPUS`, default 32. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** A `local[cores]` session with one shuffle partition per core, UTC
    * session time, the catalog-sized codegen cache and no UI. Logs are
    * at WARN from JVM start (`log4j2.properties` in the resources). */
  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
