package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Twenty-ninth query wave: operational robustness surfaces — malformed
  * input quarantine, codec invariance, and null-key join semantics.
  */
object Relational21 {

  /** q202 — corrupt-record quarantine: a 100 TB ingest WILL contain
    * malformed lines, and the job must count and quarantine them, not
    * die (PERMISSIVE + columnNameOfCorruptRecord) and not silently
    * shrink (DROPMALFORMED's failure mode — its count is reported so
    * the two modes reconcile). The fixture corrupts every 13th line
    * deterministically (non-numeric value field), so the oracle knows
    * the exact quarantine set; the clean-row aggregate proves parsing
    * damage stayed confined to the corrupted lines. The corrupt column
    * carries the RAW line for replay — the quarantine contract. */
  def q202CorruptRecords(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-corrupt-")
    Tables.events(spark, sfDir)
      .select(concat_ws(",", $"event_id",
        when($"event_id" % 13 === 0, concat(lit("x"), $"event_id"))
          .otherwise(Exact.cents($"value").cast("string"))).as("value"))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("cents", LongType),
      StructField("_bad", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(dir)
    val audit = parsed.agg(
      count(when($"_bad".isNull, 1)).as("n_clean"),
      count($"_bad").as("n_quarantined"),
      sum(when($"_bad".isNull, $"cents")).as("clean_cents"),
      // every quarantined line still carries its raw text for replay —
      // recognizable by the injected ",x" corruption marker
      count(when($"_bad".contains(",x"), 1)).as("n_replayable"))
    // count(cents), not count(*): CSV column pruning means malformedness
    // is judged only on REFERENCED columns — an unreferenced count would
    // parse nothing and drop nothing (observed: 1000 vs 923)
    val dropped = spark.read.schema(
        StructType(schema.fields.take(2)))
      .option("mode", "DROPMALFORMED").csv(dir)
      .agg(count($"cents").as("n_dropmalformed"))
    TempIo.materialize(spark, audit.crossJoin(dropped))
  }

  def q202Sql: String =
    """SELECT
       CAST(count(*) FILTER (event_id % 13 <> 0) AS BIGINT) AS n_clean,
       CAST(count(*) FILTER (event_id % 13 = 0) AS BIGINT) AS n_quarantined,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         FILTER (event_id % 13 <> 0) AS BIGINT) AS clean_cents,
       CAST(count(*) FILTER (event_id % 13 = 0) AS BIGINT) AS n_replayable,
       CAST(count(*) FILTER (event_id % 13 <> 0) AS BIGINT) AS n_dropmalformed
       FROM events"""

  /** Codecs exercised by q203 — all bundled with the Spark runtime. */
  val Codecs = Seq("snappy", "gzip", "zstd")

  /** q203 — compression-codec invariance: the same projection written
    * under snappy, gzip and zstd, read back, and aggregated — identical
    * rows per codec. Codec choice is THE storage/CPU knob at 100 TB
    * (zstd ~2× smaller than snappy at higher CPU; gzip the legacy
    * interchange), and this query pins the engine-side contract that it
    * is ONLY a knob: results are bit-invariant to it. Completes q49
    * (format roundtrip) on the intra-format axis. */
  def q203CodecRoundtrip(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val base = Tables.events(spark, sfDir)
      .filter($"event_id" % 20 === 0)
      .select($"event_id", Exact.cents($"value").as("cents"))
    val dir = s.dir("graft-codec-")
    val counts = Codecs.map { codec =>
      base.write.mode("overwrite").option("compression", codec)
        .parquet(s"$dir/$codec")
      val back = spark.read.parquet(s"$dir/$codec")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
        .head()
      (codec, back.getLong(0), back.getLong(1))
    }
    TempIo.materialize(spark,
      counts.toDF("codec", "n", "cents").orderBy($"codec"))
  }

  def q203Sql: String =
    """SELECT c.codec,
       (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 20 = 0)
         AS n,
       (SELECT CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) FROM events WHERE event_id % 20 = 0) AS cents
       FROM (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec)
       ORDER BY c.codec"""

  /** q204 — null-key join semantics, pinned: standard equality drops
    * null keys from BOTH sides (SQL three-valued logic), `<=>`
    * (EqualNullSafe) matches null-to-null — and the two are different
    * JOIN CARDINALITIES, not a style choice. The classic silent bug at
    * scale is a fact table whose late-parsed key column is null for a
    * fraction of rows: an `=` join quietly drops them, a `<=>` join
    * fans them out against every null dim row. This query measures
    * both counts plus the per-side null populations, so the contract
    * (n_nullsafe = n_eq + n_left_null · n_right_null_rows) is checked
    * numerically by the oracle's IS NOT DISTINCT FROM twin. Spark
    * plans `<=>` as a proper equi-join key (hash-joinable — no
    * cartesian), which the never-cartesian spec family asserts. */
  def q204NullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val left = Tables.events(spark, sfDir)
      .select($"event_id",
        when($"event_id" % 7 === 0, lit(null).cast("long"))
          .otherwise($"user_id" % 50).as("k"))
    val right = Tables.events(spark, sfDir)
      .select(when($"user_id" % 11 === 0, lit(null).cast("long"))
        .otherwise($"user_id" % 50).as("rk")).distinct()
    val nEq = left.join(right, $"k" === $"rk").count()
    val nSafe = left.join(right, $"k" <=> $"rk").count()
    val out = left.agg(
      lit(nEq).as("n_eq"), lit(nSafe).as("n_nullsafe"),
      count(when($"k".isNull, 1)).as("n_left_null"))
      .crossJoin(right.agg(count(when($"rk".isNull, 1)).as("n_right_null")))
      .withColumn("identity_holds",
        $"n_nullsafe" === $"n_eq" + $"n_left_null" * $"n_right_null")
    TempIo.materialize(spark, out)
  }

  def q204Sql: String =
    """WITH l AS (
         SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE user_id % 50 END AS k
         FROM events),
       r AS (
         SELECT DISTINCT CASE WHEN user_id % 11 = 0 THEN NULL
                ELSE user_id % 50 END AS rk
         FROM events)
       SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM l JOIN r ON k = rk) AS n_eq,
         (SELECT CAST(count(*) AS BIGINT) FROM l JOIN r
            ON k IS NOT DISTINCT FROM rk) AS n_nullsafe,
         (SELECT CAST(count(*) AS BIGINT) FROM l WHERE k IS NULL)
           AS n_left_null,
         (SELECT CAST(count(*) AS BIGINT) FROM r WHERE rk IS NULL)
           AS n_right_null,
         (SELECT count(*) FROM l JOIN r ON k IS NOT DISTINCT FROM rk) =
           (SELECT count(*) FROM l JOIN r ON k = rk) +
           (SELECT count(*) FROM l WHERE k IS NULL) *
           (SELECT count(*) FROM r WHERE rk IS NULL) AS identity_holds"""

  /** q209 — CDC apply WITH DELETES: q90's latest-wins upsert extended
    * by the tombstone verb every real change stream carries. The
    * change log (synthesized: every 10th event is a DELETE of its key,
    * the rest are UPSERTs of the cents value, sequenced by event_id —
    * the LSN stand-in, verified unique at every SF) reduces per key to
    * the HIGHEST-sequence operation: a final D means the key is gone
    * (tombstone), a final U carries the current value — and a delete
    * followed by a later upsert correctly RESURRECTS the key, the case
    * naive "filter deletes first" pipelines get wrong. One combinable
    * max_by aggregate per key; the audit reports live/deleted key
    * counts, live value total, and the resurrection count, all
    * hash-exact. Scale: one shuffle on the key — the same posture as
    * q90, with tombstone retention being a compaction-policy knob, not
    * a plan change. */
  def q209CdcDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val log = Tables.events(spark, sfDir)
      .select(($"user_id" % 100).as("key"), $"event_id".as("lsn"),
        when($"event_id" % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        Exact.cents($"value").as("cents"))
    val latest = log.groupBy($"key")
      .agg(max_by(struct($"op", $"cents"), $"lsn").as("last"),
        max(when($"op" === "D", $"lsn")).as("last_del"),
        max(when($"op" === "U", $"lsn")).as("last_ups"))
    latest.agg(
      count(when($"last.op" === "U", 1)).as("n_live"),
      count(when($"last.op" === "D", 1)).as("n_tombstoned"),
      sum(when($"last.op" === "U", $"last.cents")).as("live_cents"),
      count(when($"last_del".isNotNull && $"last_ups" > $"last_del", 1))
        .as("n_resurrected"))
  }

  def q209Sql: String =
    """WITH log AS (
         SELECT user_id % 100 AS key, event_id AS lsn,
           CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       latest AS (
         SELECT key,
           arg_max(op, lsn) AS last_op,
           arg_max(cents, lsn) AS last_cents,
           max(CASE WHEN op = 'D' THEN lsn END) AS last_del,
           max(CASE WHEN op = 'U' THEN lsn END) AS last_ups
         FROM log GROUP BY 1)
       SELECT
         CAST(count(*) FILTER (last_op = 'U') AS BIGINT) AS n_live,
         CAST(count(*) FILTER (last_op = 'D') AS BIGINT) AS n_tombstoned,
         CAST(sum(last_cents) FILTER (last_op = 'U') AS BIGINT) AS live_cents,
         CAST(count(*) FILTER (last_del IS NOT NULL AND last_ups > last_del)
           AS BIGINT) AS n_resurrected
       FROM latest"""
}
