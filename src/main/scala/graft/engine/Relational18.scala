package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Twenty-sixth query wave: the typed mapGroups surface and a
  * range-partitioned physical-layout audit.
  */
object Relational18 {

  /** Session gap — the engine-wide 30-minute contract
    * (graft.streaming.Sessionize.GapMinutes mirrors this). */
  val GapUs: Long = 30L * 60000000L

  /** q190 — typed mapGroups sessionization: each user's event-time
    * sequence is folded by ONE imperative pass (sort the group's
    * iterator, walk it, track the running session) into that user's
    * session count and LONGEST session — the `mapGroups` sibling of
    * q175's cogroup: the typed escape hatch when per-key logic is a
    * state machine rather than an expression. The relational engine
    * CAN express this one (the oracle is the q39 gap/flag CTE chain
    * re-aggregated), which is what makes the API demonstration
    * hash-checkable. Cost model: one shuffle by user_id, then an
    * in-memory sort of each group — the group must fit an executor
    * (true for per-user event streams; a power-key variant would
    * pre-split with q45's salting). */
  def q190MapGroupsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var nSessions = 0L
        var best = 0L
        var cur = 0L
        var prev = Long.MinValue
        evs.foreach { case (_, us, _) =>
          if (prev == Long.MinValue || us - prev > GapUs) {
            nSessions += 1; cur = 1L
          } else cur += 1
          if (cur > best) best = cur
          prev = us
        }
        (uid, nSessions, best, evs.length.toLong)
      }
      .toDF("user_id", "n_sessions", "longest_session", "n_events")
    sessions
      .groupBy($"n_sessions")
      .agg(count(lit(1)).as("n_users"),
        max($"longest_session").as("max_longest"),
        sum($"n_events").as("n_events"))
      .orderBy($"n_sessions")
  }

  def q190Sql: String =
    """WITH flags AS (
         SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       numbered AS (
         SELECT user_id,
           sum(new_session) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS session_idx
         FROM flags),
       per_session AS (
         SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS len
         FROM numbered GROUP BY 1, 2),
       per_user AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(len) AS BIGINT) AS longest_session,
           CAST(sum(len) AS BIGINT) AS n_events
         FROM per_session GROUP BY 1)
       SELECT n_sessions, CAST(count(*) AS BIGINT) AS n_users,
         CAST(max(longest_session) AS BIGINT) AS max_longest,
         CAST(sum(n_events) AS BIGINT) AS n_events
       FROM per_user GROUP BY 1 ORDER BY n_sessions"""

  /** Target file count for the range layout. */
  val RangeFiles = 8

  /** q191 — range-partitioned layout audit: events written with
    * `repartitionByRange(ts) + sortWithinPartitions(ts)` — the
    * cluster-by-time layout that makes q167's zone maps actually
    * prune — then read back through `_metadata` to PROVE the physical
    * property: per-file min/max timestamps must tile the time axis
    * with zero overlap. The audit reports file count, total rows, and
    * the overlap verdict computed from the files' own extents (a
    * running-max window over |files| rows). This is the write-side
    * half of data skipping: q167 showed what a clustered layout is
    * worth, THIS query is the operator that produces one, with the
    * proof read from the files themselves. Range partitioning costs a
    * sample pass + full shuffle at write time — paid once, amortized
    * over every pruned read. */
  def q191RangeLayout(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-range-")
    Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"event_type")
      .repartitionByRange(RangeFiles, $"ts")
      .sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(dir)
    val perFile = spark.read.parquet(dir)
      .select(col("_metadata.file_name").as("f"), $"ts")
      .groupBy($"f")
      .agg(count(lit(1)).as("n"), min($"ts").as("mn"), max($"ts").as("mx"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"mn", $"f")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val audit = perFile
      .withColumn("prev_mx", max($"mx").over(w))
      .agg(count(lit(1)).as("n_files"), sum($"n").as("n_rows"),
        (sum(when($"prev_mx" >= $"mn", 1L).otherwise(0L)) === 0L)
          .as("no_overlap"),
        (countDistinct($"f") === RangeFiles).as("file_count_ok"))
    TempIo.materialize(spark, audit)
  }

  /** The oracle pins the layout CONTRACT: every row lands in exactly
    * one file (count preserved), the writer produced the requested
    * file count, and the extents tile (range partitioning guarantees
    * disjoint key ranges per partition — emitted as a checked literal
    * the Spark side must have measured true). */
  def q191Sql: String =
    """SELECT CAST(8 AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       true AS no_overlap, true AS file_count_ok
       FROM events"""
}
