package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eighty-first query wave, batch half: q375 runs a grouped aggregate
  * THROUGH the custom `graftsink` DataSourceV2 connector with
  * AGGREGATE PUSHDOWN — count/min/max partials fold inside the
  * connector's readers, one row per (file, group), and Spark's final
  * aggregate only merges partials.
  */
object Relational62 {

  /** q375 — DSV2 AGGREGATE PUSHDOWN ROUNDTRIP: event facts are staged
    * into a `graftsink` table, then re-aggregated per event_type —
    * count(*), count(user_id), min/max of the value cents — through
    * [[graft.sources.GraftScanBuilder]]'s
    * `SupportsPushDownAggregates`. The connector accepts the
    * aggregation (partial mode), so each part file is folded
    * EXECUTOR-SIDE to one row per group before anything enters the
    * Spark plan; the plan's only aggregate is the final merge (SUM of
    * count partials, MIN of mins, MAX of maxes). GraftSinkSpec
    * plan-asserts the scan swaps to GraftAggScan and that the rows
    * reaching Spark collapse from row-scale to group-scale; the
    * oracle proves end-to-end equivalence against the raw table.
    *
    * Scale: this is THE connector contract that matters at 100 TB —
    * a grouped count/min/max over an external table moves one row per
    * (file, group) over the wire instead of every stored row. */
  def q375GraftsourceAggPushdown(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val out = s.dir("graft-dsv2a-")
    Tables.events(spark, sfDir)
      .select($"event_type".as("etype"), $"user_id".as("uid"),
        Exact.cents($"value").as("cents"))
      .write.format("graftsink").mode("append")
      .option("path", out).save()
    TempIo.materialize(spark,
      spark.read.format("graftsink").load(out)
        .groupBy($"etype")
        .agg(count(lit(1)).as("n_events"),
          count($"uid").as("n_users_nonnull"),
          min($"cents").as("min_cents"),
          max($"cents").as("max_cents"))
        .orderBy($"etype"))
  }

  def q375Sql: String =
    """SELECT event_type AS etype,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(user_id) AS BIGINT) AS n_users_nonnull,
         min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS min_cents,
         max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS max_cents
       FROM events GROUP BY 1 ORDER BY etype"""

  /** q376 decade frame upper bound (2^20 ranks ≫ any fixture vocab). */
  val Q376MaxDecade = 20

  /** q376 — ZIPF ADHERENCE AUDIT: rank the corpus vocabulary by
    * frequency and, per log2 rank-decade (ranks [2^d, 2^{d+1})), emit
    * the decade's token count, total frequency mass, and the min/max
    * of the rank×frequency product. Under Zipf's law r·f is a
    * constant, so the per-decade [min, max] band directly shows where
    * the corpus bends away from the power law (stopword head, OOV
    * tail) — the diagnostic a tokenizer/vocab-size decision reads.
    *
    * Scale: one tokenize pass folds to the vocabulary frame; the rank
    * is ONE [[DistRank.withRank]] pass (bucketed, no global window);
    * decades attach via a range join against a broadcast 21-row
    * boundary frame; everything downstream is a 21-group aggregate.
    * r·f ≤ vocab × corpus-tokens ≤ 10^13 at fixture scales — inside
    * the long budget (re-audit before a 100 TB run; the fix is
    * folding f to millions first). */
  def q376ZipfDecades(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions
    val counts = Tables.documents(spark, sfDir)
      .select(explode(TextFunctions.tokens($"text")).as("t"))
      .filter($"t" =!= "")
      .groupBy($"t").agg(count(lit(1)).as("f"))
    val ranked = DistRank.withRank(counts, "f", "t", "r", desc = true)
    val decades = (0 to Q376MaxDecade).map(d =>
      (d.toLong, 1L << d, (1L << (d + 1)) - 1L))
      .toDF("decade", "lo", "hi")
    ranked.join(broadcast(decades),
        $"r" >= $"lo" && $"r" <= $"hi")
      .groupBy($"decade")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"f").as("sum_freq"),
        min($"r" * $"f").as("min_rf"),
        max($"r" * $"f").as("max_rf"))
      .orderBy($"decade")
  }

  def q376Sql: String =
    s"""WITH counts AS (
         SELECT t.token AS t, CAST(count(*) AS BIGINT) AS f
         FROM documents,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS t(token)
         WHERE t.token <> ''
         GROUP BY 1),
       ranked AS (
         SELECT f, row_number() OVER (ORDER BY f DESC, t ASC) AS r
         FROM counts),
       decades AS (
         SELECT d.decade,
           CAST(power(2, d.decade) AS BIGINT) AS lo,
           CAST(power(2, d.decade + 1) AS BIGINT) - 1 AS hi
         FROM (SELECT unnest(generate_series(0, $Q376MaxDecade))
                 AS decade) d)
       SELECT CAST(decade AS BIGINT) AS decade,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(f) AS BIGINT) AS sum_freq,
         CAST(min(r * f) AS BIGINT) AS min_rf,
         CAST(max(r * f) AS BIGINT) AS max_rf
       FROM ranked JOIN decades ON r >= lo AND r <= hi
       GROUP BY 1 ORDER BY decade"""

  /** q378 train/test date boundary and list length. */
  val Q378Split = "1999-01-01"
  val Q378K = 3

  /** q378 — CO-ORDER RECOMMENDER EVALUATION: train an item-to-item
    * recommender on pre-[[Q378Split]] orders (top-[[Q378K]] co-ordered
    * parts per part, ranked by co-order count), then score it on the
    * held-out orders: for every (test order, part) slot, does one of
    * the part's recommendations appear elsewhere in the same order?
    * Emits hits@k for k = 1..K with the shared denominator — the
    * leakage-safe offline eval loop every collaborative recommender
    * runs (time-based split, not random: q159's purged-split rule).
    *
    * Scale: training pairs are the bounded per-order self-join (q360's
    * graph); the top-K cut is a window PARTITIONED by part; the eval
    * is two equi joins (slot→recs, rec→presence) with fan bounded by
    * K×order size; output is K rows. */
  def q378CoorderRecsEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // op is read FIVE times downstream (train twice in the pair
    // self-join, the sized test frame, and both sides of the hit
    // join) — materialize the join+distinct once instead of paying the
    // lineitem⋈orders join per consumer
    val op = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"),
        (to_date($"o_orderdate") < lit(Q378Split)).as("is_train"))
      .distinct()
      .localCheckpoint()
    val train = op.filter($"is_train").select($"ok", $"pk")
    val pairs = train.as("a").join(train.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" =!= $"b.pk")
      .groupBy($"a.pk".as("u"), $"b.pk".as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"u").orderBy($"cnt".desc, $"v".asc)
    val recs = pairs.select($"u", $"v", $"cnt",
        row_number().over(w).as("rk"))
      .filter($"rk" <= Q378K)
    // slots feeds both sides of the hit join AND the denominator count
    val slots = op.filter(!$"is_train").select($"ok", $"pk")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy($"ok")))
      .filter($"sz" >= 2).select($"ok", $"pk")
      .localCheckpoint()
    val hits = slots.join(recs, slots("pk") === recs("u"))
      .join(slots.select($"ok".as("ok2"), $"pk".as("present")),
        $"ok" === $"ok2" && $"v" === $"present")
      .groupBy($"ok", $"pk").agg(min($"rk").as("best_rk"))
    val denom = slots.count()
    val ks = (1 to Q378K).map(_.toLong).toDF("k")
    TempIo.materialize(spark,
      ks.join(broadcast(hits.groupBy($"best_rk")
          .agg(count(lit(1)).as("n"))),
          $"best_rk" <= $"k", "left_outer")
        .groupBy($"k").agg(coalesce(sum($"n"), lit(0L)).as("hits"))
        .select($"k", $"hits", lit(denom).as("slots"),
          expr(s"(1000 * hits) div $denom").as("hit_permille"))
        .orderBy($"k"))
  }

  def q378Sql: String =
    s"""WITH op AS (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk,
           CAST(o_orderdate AS DATE) < DATE '$Q378Split' AS is_train
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       train AS (SELECT ok, pk FROM op WHERE is_train),
       pairs AS (
         SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS cnt
         FROM train a JOIN train b
           ON a.ok = b.ok AND a.pk <> b.pk
         GROUP BY 1, 2),
       recs AS (
         SELECT u, v, row_number() OVER (
             PARTITION BY u ORDER BY cnt DESC, v ASC) AS rk
         FROM pairs QUALIFY rk <= $Q378K),
       slots AS (
         SELECT ok, pk FROM (
           SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS sz
           FROM op WHERE NOT is_train)
         WHERE sz >= 2),
       hits AS (
         SELECT s.ok, s.pk, min(r.rk) AS best_rk
         FROM slots s
           JOIN recs r ON s.pk = r.u
           JOIN slots p ON p.ok = s.ok AND p.pk = r.v
         GROUP BY 1, 2),
       denom AS (SELECT CAST(count(*) AS BIGINT) AS slots FROM slots),
       ks AS (SELECT unnest(generate_series(1, $Q378K)) AS k)
       SELECT CAST(k AS BIGINT) AS k,
         CAST((SELECT count(*) FROM hits WHERE best_rk <= k)
           AS BIGINT) AS hits,
         (SELECT slots FROM denom) AS slots,
         CAST((1000 * (SELECT count(*) FROM hits WHERE best_rk <= k))
           // (SELECT slots FROM denom) AS BIGINT) AS hit_permille
       FROM ks ORDER BY k"""
}
