package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifth query wave: changelog compaction (CDC upsert), multi-dimensional
  * data layout (Z-order), and distribution-drift auditing — the
  * table-maintenance / data-quality operators a long-lived 100 TB corpus
  * needs around the analytical core.
  */
object Relational5 {

  /** CDC latest-wins upsert: compact a changelog (events keyed by
    * user_id, versioned by (ts, event_id)) to its current state, then
    * summarize the state per event_type. The reference's pipeline is
    * append-only (consumer.scala:73-82); upsert-on-key is what its sinks
    * (Mongo — consumer.scala:176-181) do implicitly on _id collisions,
    * surfaced here as a relational operator.
    *
    * Spark-first shape: `max_by(payload, version)` aggregation, NOT a
    * row_number window — the aggregate gets map-side partial combine
    * (each task reduces its changelog slice to ≤ one row per key before
    * the shuffle), where a window must shuffle-sort EVERY changelog row.
    * At 100 TB of changelog with ~10^9 live keys that is the difference
    * between shuffling the key space and shuffling the log. (ts, event_id)
    * is unique per key, so latest-wins is deterministic. */
  def q90CdcUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val latest = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(max_by(
        struct($"event_type", $"value"),
        struct($"ts", $"event_id")).as("last"))
      .select($"user_id", $"last.event_type".as("event_type"), $"last.value".as("value"))
    latest
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        Exact.sumExact($"value", 2).as("sum_value"))
      .orderBy($"event_type")
  }

  def q90Sql: String =
    """WITH r AS (
         SELECT event_type, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT event_type, count(*) AS n_users,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
       FROM r WHERE rn = 1
       GROUP BY event_type ORDER BY event_type"""

  /** Z-order bits per dimension (8+8 → 16-bit key) and target file
    * count for the layout audit. */
  val ZBits = 8
  val ZFiles = 32

  /** Bit-interleave two [0, 2^ZBits) dimensions into a Z-value —
    * dimension bits alternate, so a contiguous Z range is a small
    * rectangle in (d1, d2) space. Pure shift/mask arithmetic
    * (codegen'd); mirrored structurally by [[zValueSql]]. */
  def zValue(d1: Column, d2: Column): Column =
    (0 until ZBits).map { j =>
      shiftleft(shiftright(d1, j).bitwiseAND(1), 2 * j + 1)
        .bitwiseOR(shiftleft(shiftright(d2, j).bitwiseAND(1), 2 * j))
    }.reduce(_.bitwiseOR(_))

  def zValueSql(d1: String, d2: String): String =
    (0 until ZBits).map { j =>
      s"((($d1 >> $j) & 1) << ${2 * j + 1}) | ((($d2 >> $j) & 1) << ${2 * j})"
    }.mkString("(", ") | (", ")")

  /** Z-order layout audit: cluster events by the interleaved key of
    * (user_id, value-bucket), carve the ordering into ZFiles equal
    * files, and report each file's bounding box over BOTH dimensions.
    * Tight per-file boxes are the point: a scan filtered on EITHER
    * dimension can skip most files on min/max stats alone, which a
    * single-column sort only delivers for its leading column.
    *
    * The carve is a [[DistRank]] bucketed rank over z (approx cut
    * points + per-bucket local sorts — NO single-partition window, the
    * round-5 weakness), and the layout is then physically WRITTEN,
    * one file per z-run (`partitionBy(file_id)` after a file_id
    * shuffle), and read back through `_metadata` — the bounding boxes
    * are measured from the files themselves, q191's discipline, with
    * the one-file-per-carve property checked in-query. */
  private[graft] def q92Filed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.events(spark, sfDir)
      .select($"event_id",
        ($"user_id" % 256).cast("long").as("d1"),
        least(floor($"value" / 2), lit(255)).cast("long").as("d2"))
    val keyed = dims.select($"event_id", $"d1", $"d2", zValue($"d1", $"d2").as("z"))
    val n = keyed.count()
    val perFile = (n + ZFiles - 1) / ZFiles
    DistRank.withRank(keyed, "z", "event_id", "rn", desc = false, nBuckets = ZFiles)
      .withColumn("file_id", (($"rn" - 1) / perFile).cast("long"))
  }

  def q92ZorderLayout(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-zorder-")
    // every row of one file_id hashes to ONE task, so each `file_id=`
    // directory receives exactly one parquet file — asserted below via
    // countDistinct(_metadata.file_name)
    q92Filed(spark, sfDir)
      .repartition(ZFiles, $"file_id")
      .sortWithinPartitions($"z")
      .select($"file_id", $"z", $"d1", $"d2")
      .write.mode("overwrite").partitionBy("file_id").parquet(dir)
    val audit = spark.read.parquet(dir)
      // partition-column inference reads `file_id=` back as INT
      .select($"file_id".cast("long").as("file_id"), $"d1", $"d2",
        col("_metadata.file_name").as("fn"))
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_rows"),
        min($"d1").as("d1_min"), max($"d1").as("d1_max"),
        min($"d2").as("d2_min"), max($"d2").as("d2_max"),
        (countDistinct($"fn") === 1L).as("one_file"))
      .orderBy($"file_id")
    TempIo.materialize(spark, audit)
  }

  def q92Sql: String = {
    val z = zValueSql("d1", "d2")
    s"""WITH dims AS (
          SELECT event_id,
            CAST(user_id % 256 AS BIGINT) AS d1,
            CAST(least(floor(value / 2), 255) AS BIGINT) AS d2
          FROM events),
        keyed AS (SELECT event_id, d1, d2, ($z) AS z FROM dims),
        sized AS (SELECT CAST(ceil(count(*) / $ZFiles.0) AS BIGINT) AS per_file FROM keyed),
        filed AS (
          SELECT d1, d2,
            (row_number() OVER (ORDER BY z, event_id) - 1)
              // (SELECT per_file FROM sized) AS file_id
          FROM keyed)
        SELECT file_id, count(*) AS n_rows,
          min(d1) AS d1_min, max(d1) AS d1_max,
          min(d2) AS d2_min, max(d2) AS d2_max,
          true AS one_file
        FROM filed GROUP BY file_id ORDER BY file_id"""
  }

  /** Event-time boundary splitting the corpus for the drift audit. */
  val DriftCutoff = "2024-01-16"

  /** Distribution drift between two time slices of the stream: per
    * event_type, the share in the first half vs the second, and the
    * absolute share difference — summing `drift`/2 over types gives
    * total variation distance. Everything until the final division is
    * 64-bit integer arithmetic (|n1·N2 − n2·N1| — cross-products avoid
    * forming non-portable intermediate doubles); the one IEEE division
    * of exact operands is correctly rounded in both engines.
    *
    * DOMAIN (the Exact.decToDouble discipline): the cross-product is
    * exact only while n·N < 2^63, i.e. per-slice totals below ~3·10^9
    * rows. Auditing a full 10^12-row corpus in one shot needs the two
    * CAST sites widened — `decimal(38,0)` here, HUGEINT in the oracle —
    * a two-line swap that keeps every property below; or run the audit
    * per partition-grain slice (the usual deployment) where counts stay
    * in domain. Scale: two single-pass conditional counts per type, one
    * broadcast of the two scalar totals — no per-row shuffle beyond the
    * type groupBy. */
  def q95DistributionDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val flagged = Tables.events(spark, sfDir)
      .select($"event_type",
        ($"ts" < lit(DriftCutoff).cast("timestamp")).cast("long").as("first_half"))
    val perType = flagged.groupBy($"event_type")
      .agg(sum($"first_half").as("n_first"),
        (count(lit(1)) - sum($"first_half")).as("n_second"))
    val totals = flagged.agg(
      sum($"first_half").as("t_first"),
      (count(lit(1)) - sum($"first_half")).as("t_second"))
    perType.crossJoin(broadcast(totals))
      .select($"event_type", $"n_first", $"n_second",
        abs($"n_first" * $"t_second" - $"n_second" * $"t_first").as("abs_cross"),
        (abs($"n_first" * $"t_second" - $"n_second" * $"t_first")
          / ($"t_first".cast("double") * $"t_second")).as("drift"))
      .orderBy($"event_type")
  }

  /** Semi-structured columns through Spark 4's VARIANT type: parse the
    * props payload once into the binary variant encoding, then typed
    * path extraction — the schema-on-read path for payloads whose shape
    * is NOT known at write time (q82's MapType twin needs a uniform
    * value type; variant does not). At 100 TB the win is parse-once:
    * the variant column stores a shredded binary encoding, so N
    * downstream `variant_get` paths don't re-parse JSON N times.
    * Corpus contract (single-key integer props) is enforced by the q82
    * corpus spec; the oracle shares q82's terminator-anchored regexp.
    * The contract matters more here than for q82: `variant_get(...,
    * "bigint")` TRUNCATES a fractional value (cast semantics) where the
    * MapType path nulls the whole map and the oracle regexp rejects it
    * — three different behaviors that only coincide on integer props. */
  def q98VariantOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_type",
        variant_get(parse_json($"props"), "$.k", "bigint").as("k"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("counts"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  def q98Sql: String =
    """SELECT event_type, count(*) AS counts,
       CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)[,}]', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(regexp_extract(props, '"k": (-?\d+)[,}]', 1) AS BIGINT)) AS min_k,
       max(CAST(regexp_extract(props, '"k": (-?\d+)[,}]', 1) AS BIGINT)) AS max_k
       FROM events
       WHERE regexp_extract(props, '"k": (-?\d+)[,}]', 1) <> ''
       GROUP BY event_type ORDER BY event_type"""

  /** In-flight data-quality metrics via `observe` + [[Observation]]:
    * the quality counters ride the SAME pass as the scan (CollectMetrics
    * accumulates per-task, no second job, no extra shuffle) — at 100 TB
    * this is how ingest quality gets monitored for free, vs re-scanning
    * the corpus with a separate aggregate. The returned row IS the
    * observed metrics map; the oracle recomputes the same aggregates
    * relationally. Per-row decimal→cents casting keeps the value sum
    * exact under any accumulation order. */
  def q99ObserveMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables.events(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        count(when($"value" > 100, 1)).as("high_value"),
        sum(Exact.cents($"value")).as("cents"))
    observed.write.mode("overwrite").format("noop").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
      m("high_value").asInstanceOf[Long],
      m("cents").asInstanceOf[Long] / 100.0))
      .toDF("n_rows", "high_value", "sum_value")
  }

  def q99Sql: String =
    """SELECT count(*) AS n_rows,
       count(*) FILTER (WHERE value > 100) AS high_value,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
       FROM events"""

  def q95Sql: String =
    s"""WITH f AS (
          SELECT event_type,
            CASE WHEN ts < TIMESTAMP '$DriftCutoff 00:00:00' THEN 1 ELSE 0 END AS first_half
          FROM events),
        t AS (SELECT sum(first_half) AS t_first,
                count(*) - sum(first_half) AS t_second FROM f),
        p AS (SELECT event_type, sum(first_half) AS n_first,
                count(*) - sum(first_half) AS n_second
              FROM f GROUP BY event_type)
        SELECT event_type,
          CAST(n_first AS BIGINT) AS n_first,
          CAST(n_second AS BIGINT) AS n_second,
          CAST(abs(n_first * t_second - n_second * t_first) AS BIGINT) AS abs_cross,
          CAST(abs(n_first * t_second - n_second * t_first) AS BIGINT)
            / (CAST(t_first AS DOUBLE) * t_second) AS drift
        FROM p, t ORDER BY event_type"""

  /** Snapshot state DIFF — the CDC-generation inverse of q90's CDC
    * apply: materialize the per-user latest-state view at the corpus
    * midpoint and at the end, then report the transition matrix
    * (old_state → new_state → user count, 'absent' for users born
    * after the midpoint). This is how a pipeline derives a changelog
    * from two snapshot versions when the upstream never emitted one —
    * the diff drives incremental re-embedding / re-indexing instead of
    * a full rebuild. The midpoint is exact integer arithmetic on epoch
    * micros; both states use the same (ts, event_id)-ordered window,
    * so the matrix is bit-stable.
    *
    * Scale: both snapshots come from ONE scan (the v1 state is the
    * same window with a ts filter inside max_by via conditional
    * structs), one shuffle by user_id, matrix-sized output. */
  def q131SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    // `div`, not `/`: Column `/` on longs is DOUBLE division. For this
    // corpus (epoch micros ~1.7e15, sum ~3.4e15) a double happens to
    // stay exact, but only while min+max < 2^53 µs — `div` is integer-
    // exact unconditionally and always matches the oracle's `// 2`.
    val mid = ev.agg(
      expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"))
      .head().getLong(0)
    val states = ev
      .groupBy($"user_id")
      .agg(
        max_by($"event_type", struct($"ts", $"event_id")).as("new_state"),
        max_by(
          when(unix_micros($"ts") <= mid, $"event_type"),
          when(unix_micros($"ts") <= mid, struct($"ts", $"event_id")))
          .as("old_state"))
    states
      .groupBy(coalesce($"old_state", lit("absent")).as("old_state"),
        $"new_state")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"old_state", $"new_state")
  }

  def q131Sql: String =
    """WITH b AS (
         SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
         FROM events),
       r AS (
         SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn_all,
           CASE WHEN epoch_us(ts) <= (SELECT mid FROM b) THEN
             row_number() OVER (PARTITION BY user_id,
               CASE WHEN epoch_us(ts) <= (SELECT mid FROM b) THEN 1 ELSE 0 END
               ORDER BY ts DESC, event_id DESC) END AS rn_old
         FROM events),
       st AS (
         SELECT
           any_value(CASE WHEN rn_all = 1 THEN event_type END) AS new_state,
           coalesce(any_value(CASE WHEN rn_old = 1 THEN event_type END),
             'absent') AS old_state
         FROM r GROUP BY user_id)
       SELECT old_state, new_state, count(*) AS n_users
       FROM st GROUP BY 1, 2 ORDER BY old_state, new_state"""
}
