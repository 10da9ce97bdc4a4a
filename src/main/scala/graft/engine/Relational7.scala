package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ninth query wave: history-preserving dimension builds (SCD2), schema
  * evolution across table versions, the value-window family, robust
  * (winsorized) statistics, mergeable-sketch cardinality, per-user
  * sequence fingerprinting, and the bucketed co-located join.
  *
  * The unifying theme is corpus LIFECYCLE at 100 TB: schemas drift,
  * dimensions change over time, statistics must be robust to outliers and
  * cheap to maintain incrementally (sketch merge beats rescan), and the
  * biggest recurring joins should be paid for once at write time
  * (bucketing) rather than on every query.
  */
object Relational7 {

  /** Type-2 slowly-changing dimension build: every event is a state
    * change for its user; `lead` over the per-user event-time order
    * closes each version's validity interval, the last version stays
    * open. The reference keeps only append-streams (consumer.scala:73-82)
    * and its Mongo sink latest-wins on _id (consumer.scala:176-181) —
    * q90 re-expresses the latter; THIS query is the history-preserving
    * alternative a training corpus needs for point-in-time-correct joins
    * (no label leakage from future attribute values).
    *
    * Scale: one shuffle by user_id for the sequence window — the same
    * partitioning every per-user op shares — then partial+final
    * aggregation onto |event_type| rows. Durations are summed in exact
    * integer microseconds (μs-aligned corpus, Tables.events), so the
    * final avg is one double division of exact operands — bit-identical
    * cross-engine. */
  def q109Scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("valid_to", lead($"ts", 1).over(seq))
      .withColumn("dur_us",
        when($"valid_to".isNotNull, unix_micros($"valid_to") - unix_micros($"ts")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_versions"),
        count(when($"valid_to".isNull, 1)).as("n_current"),
        sum($"dur_us").as("sum_dur_us"),
        round(sum($"dur_us") / count($"dur_us") / 1e6, 6).as("avg_dur_s"))
      .orderBy($"event_type")
  }

  def q109Sql: String =
    """WITH v AS (
         SELECT event_type,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           ts
         FROM events),
       d AS (
         SELECT event_type, valid_to,
           CASE WHEN valid_to IS NOT NULL
                THEN epoch_us(valid_to) - epoch_us(ts) END AS dur_us
         FROM v)
       SELECT event_type, count(*) AS n_versions,
         count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_current,
         CAST(sum(dur_us) AS BIGINT) AS sum_dur_us,
         round(sum(dur_us) / count(dur_us) / 1000000.0, 6) AS avg_dur_s
       FROM d GROUP BY event_type ORDER BY event_type"""

  /** Schema-evolution union: a legacy table version without the `value`
    * measure unioned by NAME with the current version — missing columns
    * null-padded (`unionByName(allowMissingColumns = true)`), then one
    * aggregate proves null-measure semantics survive the union. The
    * reference hard-codes one schema (consumer.scala:44-51); real 100 TB
    * corpora accrete schema versions across years of partitions, and
    * positional UNION silently mis-binds columns the moment one side
    * reorders — by-name resolution is the only safe contract.
    *
    * Scale: both slices come from the same parquet scan with pushed
    * predicates; the union is plan-level (no materialization) and the
    * aggregate is partial+final onto |event_type| rows. */
  def q111SchemaDriftUnion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit(Relational5.DriftCutoff).cast("timestamp")
    val ev = Tables.events(spark, sfDir)
    val legacy = ev.filter($"ts" < cutoff).select($"event_id", $"event_type")
    val current = ev.filter($"ts" >= cutoff)
      .select($"event_id", $"event_type", $"value")
    legacy.unionByName(current, allowMissingColumns = true)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        count($"value").as("n_with_value"),
        Exact.sumExact(coalesce($"value", lit(0.0)), 2).as("sum_value"))
      .orderBy($"event_type")
  }

  def q111Sql: String =
    s"""WITH u AS (
         SELECT event_id, event_type FROM events
         WHERE ts < TIMESTAMP '${Relational5.DriftCutoff} 00:00:00'
         UNION ALL BY NAME
         SELECT event_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '${Relational5.DriftCutoff} 00:00:00')
       SELECT event_type, count(*) AS n_rows,
         count(value) AS n_with_value,
         CAST(sum(CAST(CAST(coalesce(value, 0.0) AS DECIMAL(18,2)) * 100
           AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
       FROM u GROUP BY event_type ORDER BY event_type"""

  /** The value-window family q54's rank family leaves out: `first_value`
    * / `last_value` over the full partition frame, `nth_value`, and the
    * IGNORE NULLS running `last` (the carry-forward idiom — q46/q61 use
    * it for as-of; here it surfaces as a first-class operator). Emitted
    * at one summary row per user (the partition's final row), so the
    * output stays |users|-sized while every window evaluates over the
    * full history.
    *
    * Scale: all five windows share ONE partitioning (user_id) and ONE
    * sort (ts, event_id) — Catalyst plans a single shuffle + sort and
    * evaluates the functions in one Window node pass. */
  def q112ValueWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val order = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("first_type", first($"event_type").over(full))
      .withColumn("last_type", last($"event_type").over(full))
      .withColumn("third_value", nth_value($"value", 3).over(full))
      .withColumn("last_high",
        last(when($"value" > 100, $"value"), ignoreNulls = true).over(running))
      .withColumn("rn", row_number().over(order))
      .withColumn("n_events", count(lit(1)).over(full))
      .filter($"rn" === $"n_events")
      .select($"user_id", $"n_events", $"first_type", $"last_type",
        $"third_value", $"last_high")
      .orderBy($"user_id")
  }

  def q112Sql: String =
    """SELECT user_id, n_events, first_type, last_type, third_value, last_high
       FROM (
         SELECT user_id,
           first_value(event_type) OVER wf AS first_type,
           last_value(event_type) OVER wf AS last_type,
           nth_value(value, 3) OVER wf AS third_value,
           last_value(CASE WHEN value > 100 THEN value END IGNORE NULLS)
             OVER wr AS last_high,
           row_number() OVER wo AS rn,
           count(*) OVER wf AS n_events
         FROM events
         WINDOW
           wo AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           wr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t
       WHERE rn = n_events ORDER BY user_id"""

  /** Winsorized (clipped) robust mean: exact p05/p95 per event_type, every
    * value clamped into [p05, p95], then the clipped mean — the outlier-
    * robust location statistic a quality pipeline prefers over the raw
    * mean q108's audit shows being dragged by tails. Uses Spark's EXACT
    * `percentile` (linear interpolation at rank p·(n−1) — the same
    * type-7 quantile DuckDB's `quantile_cont` computes), not
    * `approx_percentile`, so both engines interpolate identical operands.
    *
    * Scale: percentiles reduce to |event_type| rows, which re-enter as a
    * BROADCAST join against the fact scan — no second fact shuffle; the
    * clipped aggregate is partial+final. Exact percentile itself holds
    * per-group value multisets; at true 100 TB cardinalities swap in
    * approx_percentile(ε) and the clip bound drifts by ε quantiles while
    * the pipeline shape is unchanged. */
  def q113Winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pcts = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    Tables.events(spark, sfDir)
      .join(broadcast(pcts), Seq("event_type"))
      .withColumn("clipped", least(greatest($"value", $"p05"), $"p95"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(first($"p05"), 6).as("p05"),
        round(first($"p95"), 6).as("p95"),
        // NOT avg(double): a float mean accumulates in shuffle-dependent
        // order and can flip the 6th decimal against the oracle. Each
        // clipped value is pinned to 6dp decimal (both engines round
        // identically there), summed exactly, one division by n — the
        // same order-independence contract as Exact.sumExact.
        round(Exact.decToDouble(
          sum($"clipped".cast("decimal(18,6)")), 6) / count(lit(1)), 6)
          .as("clipped_mean"))
      .orderBy($"event_type")
  }

  def q113Sql: String =
    """WITH p AS (
         SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
         FROM events GROUP BY event_type)
       SELECT e.event_type, count(*) AS n,
         round(any_value(p.p05), 6) AS p05,
         round(any_value(p.p95), 6) AS p95,
         round(CAST(sum(CAST(least(greatest(e.value, p.p05), p.p95)
             AS DECIMAL(18,6))) * 1000000 AS BIGINT) / CAST(1000000 AS DOUBLE)
           / count(*), 6) AS clipped_mean
       FROM events e JOIN p ON e.event_type = p.event_type
       GROUP BY e.event_type ORDER BY e.event_type"""

  /** Mergeable-sketch cardinality: a Datasketches HLL sketch per
    * (event_type, day) partial, merged per type with `hll_union_agg` —
    * the incremental-maintenance pattern that makes distinct-counting
    * viable at 100 TB (per-partition sketches are built once at ingest
    * and merged in O(|sketches|), vs. countDistinct re-shuffling the
    * entire key space on every refresh). The oracle can't run
    * Datasketches, so the query SELF-CHECKS: it emits the exact count
    * plus a boolean asserting the merged estimate lands within the
    * configured relative error — DuckDB emits `true` literally, so a
    * drifting sketch hash-mismatches the gate. */
  val HllRelErr = 0.05
  def q114HllMergeBounds(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val merged = daily.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    val exact = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    exact.join(merged, Seq("event_type"))
      .select($"event_type", $"n_exact",
        (abs($"est" - $"n_exact") <= $"n_exact" * HllRelErr).as("within_bound"))
      .orderBy($"event_type")
  }

  def q114Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
       true AS within_bound
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Per-user ordered-history fingerprint: the full event-type path in
    * event-time order collapsed to one md5 per user — the sequence-
    * modeling prep that turns an event log into per-entity training
    * sequences (and lets two corpus snapshots diff user histories by
    * comparing |users| hashes instead of |events| rows). Ordering inside
    * the aggregated array comes from `sort_array` over (ts, event_id,
    * type) structs — deterministic without a pre-sort of the input.
    *
    * Scale: ONE shuffle by user_id; `collect_list` state is bounded by
    * per-user history length (67 events avg here — for power-law users at
    * 100 TB, cap with a windowed rn <= K filter first, same plan shape). */
  def q115HistoryPack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct($"ts", $"event_id", $"event_type"))),
            x => x.getField("event_type")),
          "|")).as("path_md5"))
      .orderBy($"user_id")
  }

  def q115Sql: String =
    """SELECT user_id, count(*) AS n_events,
       md5(string_agg(event_type, '|' ORDER BY ts, event_id)) AS path_md5
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Bucketed co-located fact⋈fact join: both sides written bucketed+
    * sorted by the join key once, then the join plans as a sort-merge
    * over pre-bucketed scans with NO Exchange on either side (asserted by
    * BucketedJoinSpec) — write-time shuffle amortized across every
    * subsequent join on that key. This is THE recurring-join answer at
    * 100 TB: lineitem⋈orders runs daily, so paying its shuffle daily is
    * pure waste. Broadcast is disabled for the join so the co-location
    * (not a small-side copy) is what eliminates the shuffle.
    *
    * The scratch warehouse and the broadcast override belong to the
    * call's [[Scope]]; the two catalog tables are dropped in `finally`. */
  def q116BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val wh = s.dir("graft-q116-")
    s.conf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    try {
      Bucketing.writeBucketed(
        Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_quantity"),
        "graft_q116_li", s"$wh/li", "l_orderkey", 8)
      Bucketing.writeBucketed(
        Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority"),
        "graft_q116_o", s"$wh/o", "o_orderkey", 8)
      val agg = Bucketing
        .bucketedJoin(spark, "graft_q116_li", "graft_q116_o",
          "l_orderkey", "o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          Exact.sumExact($"l_quantity", 2).as("sum_qty"))
        .orderBy($"o_orderpriority")
      TempIo.materialize(spark, agg)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_q116_li")
      spark.sql("DROP TABLE IF EXISTS graft_q116_o")
    }
  }

  def q116Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
         AS BIGINT) / 100.0 AS sum_qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""
}
