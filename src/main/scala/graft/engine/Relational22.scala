package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRule

/** Thirtieth query wave: the range-join optimizer rule end to end. */
object Relational22 {

  /** Band width for the q210 rewrite — ≈ the interval length (1000
    * cents), so each interval explodes into ~2 buckets. */
  val BinSize = 1000L

  /** The q210 join body, rule installed and conf scoped by the caller
    * — separate so the spec can plan it with AND without the rule. */
  private[graft] def q210Join(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val points = Tables.events(spark, sfDir)
      .select($"event_id", Exact.cents($"value").as("cents"))
    // 20 half-overlapping $10 bands over the value domain
    val bands = spark.range(20).select($"id".as("band"),
      ($"id" * 500L).as("lo"), ($"id" * 500L + 999L).as("hi"))
    points.join(bands, $"cents" >= $"lo" && $"cents" <= $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
      .orderBy($"band")
  }

  /** q210 — the [[graft.plans.RangeJoinRule]] end to end: a BETWEEN
    * join (points × overlapping value bands) that Spark alone can only
    * nested-loop, run with the optimizer rule installed and
    * `spark.graft.rangeJoin.binSize` set — the rule rewrites it to the
    * banded equi join q147 builds by hand, extracted as a real hash
    * join key (plan-asserted in Relational22Spec: no
    * BroadcastNestedLoopJoin with the rule on, BNLJ without it, equal
    * rows both ways). The oracle runs the plain BETWEEN join — the
    * strongest statement that the rewrite is semantics-preserving.
    * The bin-size conf is scoped to the call; the rule stays
    * registered (it is inert without the conf). */
  def q210RangeJoinRule(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    RangeJoinRule.register(spark)
    s.conf(spark, RangeJoinRule.BinSizeKey -> BinSize.toString)
    TempIo.materialize(spark, q210Join(spark, sfDir))
  }

  def q210Sql: String =
    """SELECT b.band, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c.cents) AS BIGINT) AS cents
       FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents FROM events) c
       JOIN (SELECT i AS band, i * 500 AS lo, i * 500 + 999 AS hi
             FROM range(0, 20) r(i)) b
         ON c.cents >= b.lo AND c.cents <= b.hi
       GROUP BY 1 ORDER BY band"""

  /** Band width for the q219 timestamp rewrite, in SECONDS (the rule's
    * unit for timestamp joins) — ≈ the 30-minute incident length, so
    * each interval explodes into ~2 buckets. */
  val TsBinSeconds = 1800L

  /** The q219 join body — timestamp point-in-interval: every event
    * landing inside a 30-minute "incident window" opened by each error
    * event, aggregated per incident. Genuinely overlapping intervals
    * (errors cluster), no equi key — un-rewritten this is a
    * nested-loop join. */
  private[graft] def q219Join(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val points = Tables.events(spark, sfDir)
      .select($"ts", Exact.cents($"value").as("cents"))
    val incidents = Tables.events(spark, sfDir)
      .filter($"event_type" === "error")
      .select($"event_id".as("incident_id"), $"ts".as("lo"),
        ($"ts" + expr("INTERVAL 30 MINUTES")).as("hi"))
    points.join(incidents, $"ts" >= $"lo" && $"ts" <= $"hi")
      .groupBy($"incident_id")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
      .orderBy($"incident_id")
  }

  /** q219 — [[graft.plans.RangeJoinRule]] on TIMESTAMP bounds, the
    * dominant real-world BETWEEN join (validity intervals, SCD2, as-of
    * enrichment): the rule buckets epoch-micros with a seconds-unit
    * width and extracts a hash-join key exactly as q210 does for
    * integers (plan-asserted in Relational22Spec). The oracle runs the
    * plain BETWEEN join in DuckDB — the rewrite must be
    * semantics-preserving down to the hash. */
  def q219TsRangeJoinRule(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    RangeJoinRule.register(spark)
    s.conf(spark, RangeJoinRule.BinSizeKey -> TsBinSeconds.toString)
    // Evaluate INSIDE the rule/conf scope like q210 — but q219's
    // result is one row PER INCIDENT (data-scale: the ×10 carve has
    // ~198k error events, over TempIo.materialize's hard ceiling), so
    // it round-trips through scratch parquet, distributed end to end,
    // instead of the driver. Row order owes nothing to the readback —
    // re-pinned by the trailing orderBy.
    val dir = s.resultDir("graft-q219-")
    q219Join(spark, sfDir).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).orderBy("incident_id")
  }

  def q219Sql: String =
    """SELECT e.event_id AS incident_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents
       FROM events p
       JOIN (SELECT event_id, ts, ts + INTERVAL 30 MINUTE AS hi
             FROM events WHERE event_type = 'error') e
         ON p.ts >= e.ts AND p.ts <= e.hi
       GROUP BY 1 ORDER BY incident_id"""
}
