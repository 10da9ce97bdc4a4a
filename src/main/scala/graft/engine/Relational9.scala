package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifteenth query wave: classic multiway-join OLAP shapes and the
  * table-maintenance primitives a 100 TB deployment runs daily.
  *
  * The reference's only join is J1 — two ≤4-row aggregates
  * (`consumer.scala:172-174`, SURVEY §2.5); this wave supplies the
  * join topologies a warehouse actually schedules: the TPC-H Q5 shape
  * (a fact table meeting TWO dimension arms that must agree), the Q8
  * market-share shape (conditional revenue share inside one
  * aggregation), incremental view maintenance (merge |keys|-sized
  * partial states instead of rescanning the fact table), a BPE-style
  * vocabulary-induction pass over the corpus, and an anti-entropy
  * bucket checksum that finds divergent slices of two table versions
  * without comparing rows.
  */
object Relational9 {

  val Q135Region = "ASIA"
  val Q135YearStart = "1996-01-01"
  val Q135YearEnd = "1997-01-01"

  /** TPC-H Q5-shaped local-supplier revenue: per-nation revenue for
    * orders where the CUSTOMER's nation equals the SUPPLIER's nation,
    * restricted to one region and one order year.
    *
    * The distinguishing topology (vs q12's single star chain): the
    * fact row meets two independent dimension arms — customer-side
    * nation via orders→customer, supplier-side nation via l_suppkey —
    * and the two must agree. Declaring both equalities on ONE
    * broadcast join of the (≤5-row) region-filtered nation slice lets
    * the constraint run as a cheap row filter inside the last join
    * instead of a join of the two arms' outputs.
    *
    * Scale: the date filter prunes the orders scan (pushed to
    * parquet); customer/supplier/orders scale with SF so they
    * shuffle-join on their keys (AQE broadcasts them while small);
    * nation⨝region is constant-size and explicitly broadcast.
    * Revenue rides the shared DECIMAL(18,4) grid (q12's recipe), so
    * the sum is shuffle-order-independent and the `revenue DESC`
    * output order is decided on exact values. */
  def q135LocalSupplierRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,4)").as("rev"))
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit(Q135YearStart).cast("timestamp") &&
        $"o_orderdate" < lit(Q135YearEnd).cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey")
    val regionNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter($"r_name" === Q135Region),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(s, $"l_suppkey" === $"s_suppkey")
      .join(broadcast(regionNations),
        $"c_nationkey" === $"n_nationkey" && $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(Exact.decToDouble(sum($"rev"), 4).as("revenue"),
        count(lit(1)).as("counts"))
      .orderBy($"revenue".desc, $"n_name")
  }

  def q135Sql: String =
    s"""WITH rn AS (
          SELECT n_nationkey, n_name FROM nation
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '$Q135Region')
        SELECT n_name,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) / 10000.0 AS revenue,
          count(*) AS counts
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN rn       ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '$Q135YearStart 00:00:00'
          AND o_orderdate <  TIMESTAMP '$Q135YearEnd 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name"""

  /** Arrivals at/after this instant are the "delta" the maintained
    * view has not absorbed yet (the corpus spans 2024-01-01..30, so
    * the split is ~2/3 base, ~1/3 delta at every SF). */
  val IvmCutoff = "2024-01-21"

  /** Incremental view maintenance: a per-type (count, sum) view kept
    * current by MERGING partial states — base state ⊕ delta state —
    * instead of recomputing over the full fact table.
    *
    * The base arm simulates the stored materialized view (at scale it
    * IS a |keys|-sized table, maintained since the last refresh); the
    * delta arm aggregates only the new arrivals, whose scan prunes to
    * the tail of the time-partitioned layout. The merge is a union of
    * two |keys|-sized frames + one re-aggregation — fact bytes are
    * touched once per row EVER, not once per refresh. COUNT and a
    * DECIMAL-grid SUM are self-mergeable (`state ⊕ delta = sum`);
    * AVG would ship (sum, count) pairs, and the sketch views (q114
    * HLL / q117 CMS / q127 KMV) slot into the same ⊕ with their own
    * merge — this query is the relational member of that family.
    *
    * The oracle recomputes from scratch; equality of the two paths is
    * exactly the IVM correctness claim. `n_delta` exposes the delta
    * arm's size so a degenerate split (empty delta) would fail the
    * gate rather than vacuously pass. */
  def q136IvmMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val cut = lit(IvmCutoff).cast("timestamp")
    val base = ev.filter($"ts" < cut).groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).as("s"),
        lit(0L).as("nd"))
    val delta = ev.filter($"ts" >= cut).groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("nd"))
    base.unionAll(delta)
      .groupBy($"event_type")
      .agg(sum($"n").as("n_total"),
        Exact.decToDouble(sum($"s"), 2).as("sum_value"),
        sum($"nd").as("n_delta"))
      .orderBy($"event_type")
  }

  def q136Sql: String =
    s"""SELECT event_type,
          CAST(count(*) AS BIGINT) AS n_total,
          CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '$IvmCutoff 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
        FROM events GROUP BY event_type ORDER BY event_type"""

  val BpeTopK = 20

  /** BPE vocabulary induction, step 1: corpus-wide adjacent
    * character-pair frequencies, top-K. This is the statistic a
    * byte-pair-encoding tokenizer trainer computes every merge round —
    * the iterated loop re-runs this count on the re-tokenized corpus
    * with q125's checkpoint-per-round discipline.
    *
    * One `split`-pass builds the char array (q110's measured idiom);
    * pairs come from an index transform over the SAME array (O(1)
    * element_at per pair, no substring re-entry), then a straight
    * count shuffle. The top-K boundary is decided by (cnt DESC, pair)
    * — a total order, so ties at rank K are deterministic. */
  def q137BpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(split($"text", "").as("cs"))
      .filter(size($"cs") >= 2)
      .select(explode(expr(
        "transform(slice(cs, 1, size(cs) - 1), (c, i) -> concat(c, element_at(cs, i + 2)))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(BpeTopK)
  }

  def q137Sql: String =
    s"""WITH pairs AS (
          SELECT unnest(list_transform(range(1, length(text)),
            i -> substr(text, i, 2))) AS pair
          FROM documents WHERE length(text) >= 2)
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT $BpeTopK"""

  val Q138Region = "AMERICA"
  val Q138Nation = "NATION_11"

  /** TPC-H Q8-shaped market share: within one region's customers,
    * the yearly share of revenue supplied by one nation.
    *
    * Both the numerator (target nation's revenue) and denominator
    * (all revenue) come out of ONE aggregation over one joined scan —
    * the naive two-query formulation joins the fact table twice. The
    * share itself is a single IEEE division of two exact grid-scaled
    * BIGINTs (correctly rounded identically in both engines), so no
    * float accumulates across rows.
    *
    * Scale: same join posture as q135 (dims broadcast, fact arms
    * shuffle); the customer-region restriction is a broadcast semi
    * filter, and the supplier-nation flag is a 25-row broadcast
    * lookup evaluated inside the projection, not a separate pass. */
  def q138MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,4)").as("rev"))
    val o = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        year($"o_orderdate").cast("long").as("o_year"))
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_nationkey")
    val regionNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter($"r_name" === Q138Region),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    val s = Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey")
    val supNation = Tables.nation(spark, sfDir)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("s_nation"))
    val zero = lit(0).cast("decimal(18,4)")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(regionNations), $"c_nationkey" === $"n_nationkey")
      .join(s, $"l_suppkey" === $"s_suppkey")
      .join(broadcast(supNation), $"s_nationkey" === $"sn_key")
      .groupBy($"o_year")
      .agg(sum(when($"s_nation" === Q138Nation, $"rev").otherwise(zero)).as("num"),
        sum($"rev").as("den"))
      .select($"o_year",
        (($"num" * 10000).cast("long") / ($"den" * 10000).cast("long")).as("mkt_share"),
        Exact.decToDouble($"den", 4).as("revenue"))
      .orderBy($"o_year")
  }

  def q138Sql: String =
    s"""WITH rn AS (
          SELECT n_nationkey FROM nation
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '$Q138Region'),
        j AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
            CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
            sn.n_name AS s_nation
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN rn       ON c_nationkey = rn.n_nationkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey)
        SELECT o_year,
          CAST(sum(CASE WHEN s_nation = '$Q138Nation' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT)
            / CAST(sum(rev) * 10000 AS BIGINT) AS mkt_share,
          CAST(sum(rev) * 10000 AS BIGINT) / 10000.0 AS revenue
        FROM j GROUP BY o_year ORDER BY o_year"""

  val DiffBuckets = 64
  /** Per-row hashes live below this modulus, so a bucket's checksum
    * sum stays exact while rows-per-bucket < 2^63 / 10^6 ≈ 9·10^12 —
    * size `DiffBuckets` to keep under that at the target corpus. */
  val DiffMod = 1000003L
  /** The seeded divergence: replica v1 lost the rows with
    * `event_id < DiffLostBelow` (a corrupted first file) — a fixed,
    * SF-invariant slice, so the expected mismatch set is the same at
    * every scale (unlike a time-based delta, which touches every
    * bucket once the tail outgrows the bucket count). */
  val DiffLostBelow = 24L

  /** Anti-entropy table diff: which of `DiffBuckets` slices of two
    * table versions diverge, decided by per-bucket (count, additive
    * checksum) — never by comparing rows. The two versions here are
    * the events table with (v2 = current) and without (v1 = a replica
    * that lost its first file, see `DiffLostBelow`) a fixed id slice,
    * both derived from ONE scan via a conditional flag, so the audit
    * costs one aggregation.
    *
    * At 100 TB this is how replicas reconcile: ship the |buckets|-row
    * summary (not the table), compare, and re-sync only the buckets
    * that mismatch. The checksum is a commutative integer sum of a
    * per-row polynomial (event_id, event-time micros, value cents) —
    * shuffle-order-independent by construction, and portable because
    * every term is exact 64-bit arithmetic on positive operands. A
    * ~10^-6 per-bucket collision floor comes with the small modulus;
    * a production diff widens to two coprime moduli or 128-bit sums —
    * same plan, wider grid. Bucket assignment is `event_id % buckets`
    * (uniform synthetic ids); hash the key first when ids cluster. */
  def q139ChecksumDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(($"event_id" % DiffBuckets).as("bucket"),
        (($"event_id" * 31 + unix_micros($"ts") + Exact.cents($"value"))
          % DiffMod).as("h"),
        ($"event_id" >= DiffLostBelow).cast("long").as("v1"))
      .groupBy($"bucket")
      .agg(sum($"v1").as("n_v1"), count(lit(1)).as("n_v2"),
        (sum($"h" * $"v1") % DiffMod).as("c1"),
        (sum($"h") % DiffMod).as("c2"))
      .select($"bucket", $"n_v1", $"n_v2",
        ($"n_v1" === $"n_v2" && $"c1" === $"c2").as("is_match"))
      .orderBy($"bucket")
  }

  def q139Sql: String =
    s"""WITH h AS (
          SELECT event_id % $DiffBuckets AS bucket,
            (event_id * 31 + epoch_us(ts)
              + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) % $DiffMod AS h,
            CASE WHEN event_id >= $DiffLostBelow THEN 1 ELSE 0 END AS v1
          FROM events)
        SELECT bucket,
          CAST(sum(v1) AS BIGINT) AS n_v1,
          CAST(count(*) AS BIGINT) AS n_v2,
          (sum(v1) = count(*) AND sum(h * v1) % $DiffMod = sum(h) % $DiffMod) AS is_match
        FROM h GROUP BY bucket ORDER BY bucket"""

  val PruneStart = "2024-01-08"
  val PruneEnd = "2024-01-15"

  /** Partition-pruned scan, end to end: write a `date=`-partitioned
    * copy of the stream (the reference's S5 sink layout,
    * `consumer.scala:80`), then read one week back through a partition
    * filter and aggregate per day. The filter never touches data
    * files — it prunes at the directory listing (PartitionFilters in
    * the scan node, spec-asserted), which is the optimization that
    * turns the reference's hand-built partition globs
    * (`consumer.scala:92-107`, S3) into a plain declarative WHERE.
    *
    * Scale: this is THE layout contract for a time-series corpus —
    * a 30-of-3000-day query costs 1% of the listing and 0 bytes of
    * the other days' data. The write side repartitions by the
    * partition column first, so each date directory is one file
    * (32 shuffle tasks would otherwise each drop a sliver into every
    * directory — 30× the files, same bytes, slower listings).
    *
    * The scratch copy is materialized inside the query and deleted by
    * its call [[Scope]]; the oracle reproduces the week from the
    * unpartitioned original — equality proves pruning lost no rows. */
  def q140PartitionPruning(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-prune-")
    Tables.events(spark, sfDir)
      .withColumn("date", date_format($"ts", "yyyy-MM-dd"))
      .repartition($"date")
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter($"date" >= lit(PruneStart).cast("date") &&
        $"date" < lit(PruneEnd).cast("date"))
      .groupBy($"date".cast("string").as("date"))
      .agg(count(lit(1)).as("counts"),
        Exact.sumExact($"value", 2).as("sum_value"))
      .orderBy($"date")
    TempIo.materialize(spark, pruned)
  }

  def q140Sql: String =
    s"""SELECT strftime(ts, '%Y-%m-%d') AS date,
          CAST(count(*) AS BIGINT) AS counts,
          CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0 AS sum_value
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') >= '$PruneStart'
          AND strftime(ts, '%Y-%m-%d') <  '$PruneEnd'
        GROUP BY 1 ORDER BY date"""

  val NtileBins = 8

  /** Equi-depth quantile bins: per event type, `ntile` over the exact
    * cents grid (tie-broken by event_id — a total order, so bin
    * assignment is deterministic in both engines) → per-bin count and
    * [lo, hi] extent. Completes the histogram family: q56 is
    * fixed-WIDTH (equal value ranges, skewed counts); this is
    * fixed-DEPTH (equal counts, data-driven ranges) — the form
    * quantile normalization and calibration curves consume.
    *
    * Scale: ntile costs one hash shuffle + per-key sort. When the
    * per-key sort is the bottleneck at 100 TB, swap the exact bin
    * boundaries for `percentile_approx` cut points (q126's audited
    * GK guarantee) and assign bins by comparison instead — same
    * output shape, no sort. */
  def q141EquiDepthBins(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"cents", $"event_id")
    Tables.events(spark, sfDir)
      .select($"event_type", Exact.cents($"value").as("cents"), $"event_id")
      .withColumn("bin", ntile(NtileBins).over(w).cast("long"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"),
        min($"cents").as("lo"), max($"cents").as("hi"))
      .orderBy($"event_type", $"bin")
  }

  def q141Sql: String =
    s"""WITH t AS (
          SELECT event_type,
            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
            event_id
          FROM events),
        b AS (
          SELECT event_type, cents,
            ntile($NtileBins) OVER (PARTITION BY event_type ORDER BY cents, event_id) AS bin
          FROM t)
        SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n,
          min(cents) AS lo, max(cents) AS hi
        FROM b GROUP BY event_type, bin ORDER BY event_type, bin"""

  /** Each event holds its actor "active" for this long — the interval
    * the sweep measures. */
  val ActiveWindowUs = 300000000L // 5 minutes

  /** Sweep-line concurrency gauge: peak number of simultaneously
    * active intervals per day. Every event becomes two delta points —
    * (+1 at ts, −1 at ts + window) — and a running sum over the
    * time-ordered points IS the instantaneous load; its per-day max
    * is the peak. This is the interval-analytics shape session
    * windows can't express (q39/q120 group TOUCHING activity; the
    * gauge measures OVERLAP density — capacity planning, rate-limit
    * sizing, concurrent-user curves).
    *
    * Determinism: the sweep orders by (t, delta) with an explicit ROWS
    * frame on both engines — at equal micros the −1 lands first
    * (half-open intervals), and the per-day max is invariant to
    * leftover tie order because peaks are attained on +1 rows only.
    * Intervals are attributed to their START day (a midnight-crossing
    * tail is counted in the opening day — the gauge's documented
    * clipping contract).
    *
    * Scale: one union of two projections of the same scan, one
    * day-partitioned sort for the window, one matrix-sized aggregate.
    * Day partitions bound the sort; a hotter-than-memory day shards
    * the sweep by (day, hour) with carry-in offsets — same algebra,
    * one extra pass over the |shards| frame. */
  def q142ConcurrencyGauge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"),
        unix_micros($"ts").as("start_us"))
    val pts = ev.select($"day", $"start_us".as("t"), lit(1L).as("delta"))
      .unionAll(ev.select($"day", ($"start_us" + ActiveWindowUs).as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy($"day").orderBy($"t", $"delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("load", sum($"delta").over(w))
      .groupBy($"day")
      .agg(max($"load").as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      .orderBy($"day")
  }

  def q142Sql: String =
    s"""WITH pts AS (
          SELECT strftime(ts, '%Y-%m-%d') AS day, epoch_us(ts) AS t, 1 AS delta
          FROM events
          UNION ALL
          SELECT strftime(ts, '%Y-%m-%d') AS day,
            epoch_us(ts) + $ActiveWindowUs AS t, -1 AS delta
          FROM events),
        swept AS (
          SELECT day,
            sum(delta) OVER (PARTITION BY day ORDER BY t, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
          FROM pts)
        SELECT day, CAST(max(load) AS BIGINT) AS peak_concurrent,
          CAST(count(*) / 2 AS BIGINT) AS n_intervals
        FROM swept GROUP BY day ORDER BY day"""

  /** Private-use placeholder the winning pair collapses into — outside
    * the ASCII corpus alphabet, so round-2 pairs that touch a merge
    * site are visibly distinct from unmerged text. */
  val BpeMergeSymbol = "\uE000"

  /** BPE vocabulary induction, step 2: apply the top merge and
    * recount. The round-1 winner (q137's (cnt DESC, pair) order,
    * LIMIT 1) is broadcast as a 1-row frame — never collected by the
    * caller — and every occurrence collapses to `BpeMergeSymbol` via
    * plain left-to-right non-overlapping `replace` (exactly BPE's
    * greedy merge on "aaa"-style overlaps); then the q137 pair count
    * reruns over the merged symbol stream. Together with q137 this is
    * one full trainer iteration, expressed declaratively end to end.
    *
    * Scale: two corpus scans (the count pass that elects the winner,
    * the merge+recount pass) — inherent to the algorithm's data
    * dependence. An N-round trainer caches the current symbol stream
    * between rounds and adopts q67's checkpoint-per-round discipline
    * so round k's plan doesn't re-derive rounds 1..k-1 lazily. */
  def q143BpeMergeRound(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val top1 = q137BpePairs(spark, sfDir)
      .orderBy($"cnt".desc, $"pair").limit(1).select($"pair")
    Tables.documents(spark, sfDir)
      .select($"text")
      .crossJoin(broadcast(top1))
      .select(split(expr(s"replace(text, pair, '$BpeMergeSymbol')"), "").as("cs"))
      .filter(size($"cs") >= 2)
      .select(explode(expr(
        "transform(slice(cs, 1, size(cs) - 1), (c, i) -> concat(c, element_at(cs, i + 2)))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(BpeTopK)
  }

  def q143Sql: String =
    s"""WITH pairs1 AS (
          SELECT unnest(list_transform(range(1, length(text)),
            i -> substr(text, i, 2))) AS pair
          FROM documents WHERE length(text) >= 2),
        top1 AS (
          SELECT pair FROM pairs1 GROUP BY pair
          ORDER BY count(*) DESC, pair LIMIT 1),
        merged AS (
          SELECT replace(text, (SELECT pair FROM top1), chr(57344)) AS text
          FROM documents),
        pairs2 AS (
          SELECT unnest(list_transform(range(1, length(text)),
            i -> substr(text, i, 2))) AS pair
          FROM merged WHERE length(text) >= 2)
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs2 GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT $BpeTopK"""
}
