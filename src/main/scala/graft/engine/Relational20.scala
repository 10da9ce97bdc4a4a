package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twenty-eighth query wave: the order-free frequent-items sketch and
  * bitemporal correction/restatement reconstruction.
  */
object Relational20 {

  /** Counters kept by the q197 frequency sketch. */
  val FreqK = 64

  /** q197 — mergeable frequent-items counters
    * ([[graft.functions.FreqCounters]]): per event type, a k=64-counter
    * summary whose counts the oracle reproduces EXACTLY — the sketch
    * family's q127 discipline (KMV hash admission) applied to
    * frequency, completing TopK/KMV/CMS/HLL. Textbook Misra-Gries
    * could only offer a q117-style bounds check here (its merge is
    * merge-tree-shape-dependent); the hash-admission variant keeps
    * MG's O(k) footprint and mergeability but makes the estimate a
    * pure function of the data — see the FreqCounters scaladoc for
    * the exactness argument. The query reports each type's top 3
    * sampled keys by count, with the exact recount joined alongside
    * and the est==exact verdict MEASURED (the oracle pins it true).
    *
    * Scale: partials ship ≤k (hash,count) pairs per partition
    * regardless of input size; the exact-recount join exists only for
    * the audit and stays proportional to the k·|types| sketch rows on
    * its probe side. */
  def q197FreqSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.events(spark, sfDir)
      .select($"event_type",
        conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
    val sk = hashed.groupBy($"event_type")
      .agg(graft.functions.FreqCounters.freqCounters($"hv", FreqK).as("sk"))
      .select($"event_type", explode($"sk").as("e"))
      .select($"event_type", $"e.hv".as("hv"), $"e.cnt".as("est_n"))
    val exact = hashed.groupBy($"event_type", $"hv")
      .agg(count(lit(1)).as("exact_n"))
    val w = Window.partitionBy($"event_type").orderBy($"est_n".desc, $"hv")
    sk.join(exact, Seq("event_type", "hv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .withColumn("est_exact", $"est_n" === $"exact_n")
      .orderBy($"event_type", $"est_n".desc, $"hv")
  }

  def q197Sql: String =
    s"""WITH h AS (
         SELECT event_type,
           list_reduce(list_transform(range(1, 9), i ->
             strpos('0123456789abcdef',
               substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1),
             (a, b) -> a * 16 + b) AS hv
         FROM events),
       mink AS (
         SELECT event_type, hv FROM (
           SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
           FROM (SELECT DISTINCT event_type, hv FROM h) d) t
         WHERE rn <= $FreqK),
       cnt AS (
         SELECT event_type, hv, CAST(count(*) AS BIGINT) AS n
         FROM h GROUP BY 1, 2),
       top AS (
         SELECT c.event_type, c.hv, c.n,
           row_number() OVER (PARTITION BY c.event_type
             ORDER BY c.n DESC, c.hv) AS rn
         FROM cnt c JOIN mink USING (event_type, hv))
       SELECT event_type, hv, n AS est_n, n AS exact_n, true AS est_exact
       FROM top WHERE rn <= 3
       ORDER BY event_type, est_n DESC, hv"""

  /** Correction arrival lag in the q198 ledger fixture: a restatement
    * lands 3 days of transaction time after its original fact. */
  val CorrLagUs: Long = 3L * 86400000000L

  /** q198 — bitemporal corrections (valid-time × transaction-time):
    * q109's SCD2 tracks valid time only; this is the other axis — WHAT
    * DID WE KNOW WHEN. The ledger holds every purchase at its event
    * (valid) time recorded immediately (tx = valid), plus a correction
    * stream (every 11th event) restating the amount +$5.00 three days
    * of transaction time later. For each weekly audit instant K the
    * query reconstructs the revenue-by-valid-day report AS IT STOOD at
    * K: per fact, the latest version with tx < K wins (`max_by` over
    * transaction time — the as-of-knowledge join), so the same
    * valid_day's total CHANGES across knowledge weeks as restatements
    * land — exactly the audited-backfill contract q172's
    * point-in-time features need (no version visible before it was
    * recorded = no knowledge leakage). n_restated counts facts whose
    * winning version at K is a correction.
    *
    * Scale: audit instants are a tiny broadcast dimension (weekly
    * points here); the ledger fans out only to its ELIGIBLE instants
    * (tx < K), the per-(K, fact) argmax is one combinable aggregate on
    * the (instant, fact) key, and nothing ever sorts globally. A
    * production variant prunes the fan-out with tx-time partition
    * predicates per instant — same plan, partition-pruned scans. */
  def q198Bitemporal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        unix_micros($"ts").as("tx_us"), Exact.cents($"value").as("cents"))
    val corrections = base.filter($"event_id" % 11 === 0)
      .select($"event_id", $"user_id", $"ts",
        ($"tx_us" + CorrLagUs).as("tx_us"), ($"cents" + 500L).as("cents"))
    val ledger = base.withColumn("is_corr", lit(false))
      .unionByName(corrections.withColumn("is_corr", lit(true)))
    val instants = ledger
      .select(expr("date_trunc('week', timestamp_micros(tx_us))" +
        " + interval 7 days").as("know_ts")).distinct()
      .select($"know_ts", unix_micros($"know_ts").as("know_us"))
    val winners = ledger.join(broadcast(instants), $"tx_us" < $"know_us")
      .groupBy($"know_us", $"event_id")
      .agg(max_by(struct($"cents", $"is_corr", $"ts"), $"tx_us").as("w"))
    winners
      .select(Exact.tsString(timestamp_micros($"know_us")).as("know_week"),
        date_format($"w.ts", "yyyy-MM-dd").as("valid_day"),
        $"w.cents".as("cents"), $"w.is_corr".cast("long").as("is_corr"))
      .groupBy($"know_week", $"valid_day")
      .agg(count(lit(1)).as("n_facts"), sum($"cents").as("cents"),
        sum($"is_corr").as("n_restated"))
      .orderBy($"know_week", $"valid_day")
  }

  def q198Sql: String =
    s"""WITH base AS (
         SELECT event_id, ts, epoch_us(ts) AS tx_us,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           false AS is_corr
         FROM events WHERE event_type = 'purchase'),
       corr AS (
         SELECT event_id, ts, tx_us + $CorrLagUs AS tx_us,
           cents + 500 AS cents, true AS is_corr
         FROM base WHERE event_id % 11 = 0),
       ledger AS (SELECT * FROM base UNION ALL SELECT * FROM corr),
       instants AS (
         SELECT DISTINCT
           epoch_us(date_trunc('week', make_timestamp(tx_us))
             + INTERVAL 7 DAY) AS know_us
         FROM ledger),
       winners AS (
         SELECT know_us, event_id,
           arg_max(cents, tx_us) AS cents,
           arg_max(is_corr, tx_us) AS is_corr,
           arg_max(ts, tx_us) AS ts
         FROM ledger JOIN instants ON tx_us < know_us
         GROUP BY 1, 2)
       SELECT strftime(make_timestamp(know_us), '%Y-%m-%d %H:%M:%S')
           AS know_week,
         strftime(ts, '%Y-%m-%d') AS valid_day,
         CAST(count(*) AS BIGINT) AS n_facts,
         CAST(sum(cents) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN is_corr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_restated
       FROM winners GROUP BY 1, 2 ORDER BY know_week, valid_day"""

  /** Write the events stream date-partitioned (q140's layout) for the
    * q200 fixture, in a dir of the caller's scope. */
  private[graft] def writeDatePartitioned(spark: SparkSession, sfDir: String,
      scope: Scope): String = {
    import spark.implicits._
    val dir = scope.dir("graft-dpp-")
    Tables.events(spark, sfDir)
      .withColumn("date", date_format($"ts", "yyyy-MM-dd"))
      .repartition($"date")
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    dir
  }

  /** The q200 join against an already-written fixture — separate so the
    * spec can assert the physical plan BEFORE materialization. */
  private[graft] def q200Join(spark: SparkSession, sfDir: String,
      factDir: String): DataFrame = {
    import spark.implicits._
    val fact = spark.read.parquet(factDir)
    // the dim comes from the ORIGINAL table (a different scan), filtered
    // to every-7th day — selective, broadcastable, and only knowable at
    // runtime, which is precisely what DPP exists for
    val dim = Tables.events(spark, sfDir)
      .select(date_format($"ts", "yyyy-MM-dd").cast("date").as("d")).distinct()
      .filter(dayofmonth($"d") % 7 === 1)
    fact.join(broadcast(dim), fact("date") === dim("d"))
      .groupBy($"date".cast("string").as("date"))
      .agg(count(lit(1)).as("counts"), sum(Exact.cents($"value")).as("cents"))
      .orderBy($"date")
  }

  /** q200 — DYNAMIC partition pruning: q140 proved static pruning (a
    * literal date predicate reaches PartitionFilters); here the prune
    * set is only known at RUNTIME — it is the output of the dimension
    * subquery — and Catalyst still prunes the fact scan, by injecting
    * the broadcast dim's build-side keys as a partition filter
    * (`dynamicpruningexpression` on the scan, spec-asserted). At 100 TB
    * this is THE star-schema mechanism: a selective dim filter means
    * the date-partitioned fact reads 5 of 30 directories, zero bytes of
    * the rest, without anyone hand-writing the date list. The oracle
    * reproduces the join from the unpartitioned original — equality
    * proves pruning lost no rows. */
  def q200DynamicPruning(spark: SparkSession, sfDir: String): DataFrame =
    Scope.run { s =>
      TempIo.materialize(spark, q200Join(spark, sfDir, writeDatePartitioned(spark, sfDir, s)))
    }

  def q200Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS date,
       CAST(count(*) AS BIGINT) AS counts,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS cents
       FROM events
       WHERE CAST(strftime(ts, '%d') AS INT) % 7 = 1
       GROUP BY 1 ORDER BY date"""

  /** The q201 join with runtime-filter confs scoped to the call —
    * separate so the spec can assert the injected bloom filter in the
    * optimized plan. The threshold
    * overrides exist because the test corpus is tiny: at production
    * scale the defaults (10 GB application side) trigger on their own.
    * autoBroadcast is disabled so the join actually shuffles — the
    * regime the bloom filter exists for (a broadcast join would prune
    * via DPP/build-side keys instead). */
  private[graft] def q201Join(spark: SparkSession, sfDir: String)
      (f: DataFrame => DataFrame): DataFrame = Scope.run { s =>
    import spark.implicits._
    s.conf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val urgent = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
    val joined = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_extendedprice", $"l_returnflag")
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(Exact.cents($"l_extendedprice")).as("cents"))
      .orderBy($"l_returnflag")
    f(joined)
  }

  /** q201 — runtime (bloom) join filter: the shuffle-join complement of
    * q200's DPP. When the fact side is too big to broadcast-join, Spark
    * can still build a bloom filter from the SELECTIVE dim side
    * (1-URGENT orders) and push `might_contain` into the fact scan —
    * rows that cannot join are dropped BEFORE the shuffle, which at
    * 100 TB is the difference between shuffling the whole lineitem and
    * shuffling the ~20% that has an urgent order. Results are
    * semantics-identical to the plain join (the filter only
    * false-positives), which is exactly what the oracle checks; the
    * spec asserts the bloom is actually in the plan, so a conf rename
    * or regression cannot silently degrade to full shuffles. */
  def q201RuntimeFilter(spark: SparkSession, sfDir: String): DataFrame =
    q201Join(spark, sfDir)(df => TempIo.materialize(spark, df))

  def q201Sql: String =
    """SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         AS BIGINT) AS cents
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT'
       GROUP BY 1 ORDER BY l_returnflag"""
}
