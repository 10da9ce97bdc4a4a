package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seventy-fifth query wave: q358 Theil–Sen slope + Mann–Kendall
  * trend test (the standard robust trend pair, on an exact integer
  * slope grid), q359 median/MAD outlier screening per group (the
  * robust-statistics alternative to q108's z-score fences), and q360
  * bounded min-plus shortest paths over the weighted part co-order
  * graph (the semiring generalization of q119's unweighted k-hop).
  */
object Relational56 {

  /** Shift constant making every q358 slope numerator positive before
    * integer division, so Spark's truncate and DuckDB's floor agree
    * (the repo's floor-division discipline; bound: 1000·|Δy| ≤
    * 1000·max_daily ≪ 10^9·Δd for any fixture scale). */
  val Q358Shift = 1000000000L

  /** q358 — THEIL–SEN SLOPE + MANN–KENDALL TEST on the daily order
    * series: the robust trend pair — MK's S = Σ sign(y_j − y_i) over
    * all day pairs i<j decides WHETHER a monotone trend exists;
    * Theil–Sen's median pairwise slope says HOW STEEP, immune to the
    * outlier days that wreck the q121/q272 least-squares line. Slopes
    * land on an exact permille grid via shifted floor division
    * ([[Q358Shift]]), and the median is the LOWER median (rank
    * (n+1) div 2) so the answer is always a grid point — no
    * averaging, no float drift.
    *
    * Scale: the pair set is calendar² — bounded by the date span, not
    * the row count (daily counts fold map-side first). The median
    * comes from a groupBy-count over distinct slopes plus ONE
    * [[DistRank.withRunningSums]] pass — never a global sort of the
    * pair frame. */
  def q358TheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.orders(spark, sfDir)
      .select(datediff(to_date($"o_orderdate"), lit("1995-01-01"))
        .cast("long").as("d"))
    val bounds = days.agg(min($"d").as("mn"), max($"d").as("mx"))
    val grid = bounds.select(explode(expr("sequence(mn, mx)")).as("d"))
    val counts = days.groupBy($"d").agg(count(lit(1)).as("y"))
    val series = grid.join(counts, Seq("d"), "left_outer")
      .na.fill(0L, Seq("y"))
    val pairs = series.as("a")
      .join(series.as("b"), $"b.d" > $"a.d")
      .select(($"b.y" - $"a.y").as("dy"), ($"b.d" - $"a.d").as("dx"))
    // The shifted numerator must stay non-negative or Spark's
    // truncating `div` silently disagrees with the oracle's flooring
    // `//` by one grid unit — loud-guarded in the same pass (the q386
    // wedge-budget discipline): |dy| is bounded by the max daily
    // count, so 1000·|dy| < Q358Shift·dx holds for any realistic
    // series; a fixture that breaks it must fail, not drift.
    val slopes = pairs.select(
      expr(s"""case when 1000 * abs(dy) >= ${Q358Shift} * dx
          then cast(raise_error(concat('q358: |dy|=', abs(dy),
            ' at dx=', dx, ' breaks the 1000*|dy| < ${Q358Shift}*dx ',
            'slope-grid invariant; truncating div would diverge ',
            'from floor')) as bigint)
          else ((1000 * dy + ${Q358Shift} * dx) div dx) - ${Q358Shift}
          end""")
        .as("s"),
      when($"dy" > 0, 1L).when($"dy" < 0, -1L).otherwise(0L).as("sgn"))
    val tot = slopes.agg(count(lit(1)).as("n_pairs"),
      sum($"sgn").as("mk_s"))
    val nDays = series.agg(count(lit(1)).as("n_days"))
    val grouped = slopes.groupBy($"s").agg(count(lit(1)).as("cnt"))
    val cum = DistRank.withRunningSums(grouped, "s", "s",
      Seq("cnt" -> "cum"))
    cum.crossJoin(broadcast(tot))
      .filter(expr("(n_pairs + 1) div 2 > cum - cnt") &&
        expr("(n_pairs + 1) div 2 <= cum"))
      .crossJoin(broadcast(nDays))
      .select($"n_days", $"n_pairs", $"mk_s",
        $"s".as("median_slope_permille"))
  }

  def q358Sql: String =
    s"""WITH days AS (
         SELECT CAST(date_diff('day', DATE '1995-01-01',
           CAST(o_orderdate AS DATE)) AS BIGINT) AS d
         FROM orders),
       bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM days),
       grid AS (SELECT unnest(generate_series(mn, mx)) AS d FROM bounds),
       counts AS (SELECT d, CAST(count(*) AS BIGINT) AS y
                  FROM days GROUP BY d),
       series AS (SELECT g.d, coalesce(c.y, 0) AS y
                  FROM grid g LEFT JOIN counts c ON g.d = c.d),
       pairs AS (
         SELECT b.y - a.y AS dy, b.d - a.d AS dx
         FROM series a JOIN series b ON b.d > a.d),
       slopes AS (
         SELECT ((1000 * dy + ${Q358Shift} * dx) // dx) - ${Q358Shift}
             AS s,
           CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END AS sgn
         FROM pairs),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(sgn) AS BIGINT) AS mk_s FROM slopes),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM series),
       grouped AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt
                   FROM slopes GROUP BY s),
       cum AS (SELECT s, cnt,
                 sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                   AS cum
               FROM grouped)
       SELECT nd.n_days, t.n_pairs, t.mk_s,
         c.s AS median_slope_permille
       FROM cum c CROSS JOIN tot t CROSS JOIN nd
       WHERE (t.n_pairs + 1) // 2 > c.cum - c.cnt
         AND (t.n_pairs + 1) // 2 <= c.cum"""

  /** q359 — MEDIAN/MAD OUTLIER SCREEN per order priority: the robust
    * location/scale pair — median and median-absolute-deviation on
    * the exact cents grid (lower medians, so every statistic is a
    * data point, not an average) — then the classic |x − med| > 3·MAD
    * fence. Complements q108's mean/stddev fences and q113's
    * winsorization: MAD has a 50% breakdown point, so a few corrupt
    * totals can't move the fence itself.
    *
    * Scale: both median passes run on grouped DISTINCT-value frames
    * via [[DistRank.withGroupedRunningSums]] (per-(class, bucket)
    * local sorts + triangular broadcast lift — no per-class
    * single-partition window), and the final fence count is one
    * broadcast join back to the folded value frame.
    *
    * Materialization discipline (r14): every multiply-consumed frame
    * is localCheckpoint'ed — the grouped value frame (three reads
    * inside the running-sums machinery), the deviation frame (MAD
    * median + the fence aggregate), and the two 5-row median frames,
    * which the final projection would otherwise RE-DERIVE by running
    * the whole median pipeline a second time. Class totals fold from
    * the grouped frame (Σcnt) instead of re-scanning orders. */
  def q359MadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.orders(spark, sfDir)
      .select($"o_orderpriority".as("cls"),
        Exact.cents($"o_totalprice").as("v"))
    // lower median of a grouped multiset given (cls, value, cnt)
    def groupedMedian(vals: DataFrame, out: String): DataFrame = {
      val g = vals.groupBy($"cls", $"v").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val cum = DistRank.withGroupedRunningSums(
        g, Seq("cls"), "v", "v", Seq("cnt" -> "cum"))
      val totals = g.groupBy($"cls").agg(sum($"cnt").as("n"))
      cum.join(broadcast(totals), Seq("cls"))
        .filter(expr("(n + 1) div 2 > cum - cnt") &&
          expr("(n + 1) div 2 <= cum"))
        .select($"cls", $"v".as(out))
        .localCheckpoint()
    }
    val med = groupedMedian(rows, "med")
    val devs = rows.join(broadcast(med), Seq("cls"))
      .select($"cls", $"v", abs($"v" - $"med").as("dev"))
      .localCheckpoint()
    val mad = groupedMedian(devs.select($"cls", $"dev".as("v")), "mad")
    devs.join(broadcast(mad), Seq("cls"))
      .groupBy($"cls")
      .agg(count(lit(1)).as("n"),
        sum(when($"dev" > $"mad" * 3, 1L).otherwise(0L)).as("n_outliers"),
        max($"dev").as("max_dev"))
      .join(broadcast(med), Seq("cls"))
      .join(broadcast(mad), Seq("cls"))
      .select($"cls", $"n", $"med", $"mad", $"n_outliers", $"max_dev")
      .orderBy($"cls")
  }

  def q359Sql: String =
    """WITH rows_ AS (
         SELECT o_orderpriority AS cls,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         FROM orders),
       tot AS (SELECT cls, CAST(count(*) AS BIGINT) AS n
               FROM rows_ GROUP BY cls),
       g1 AS (SELECT cls, v, CAST(count(*) AS BIGINT) AS cnt
              FROM rows_ GROUP BY cls, v),
       c1 AS (SELECT cls, v, cnt,
                sum(cnt) OVER (PARTITION BY cls ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM g1),
       med AS (SELECT c1.cls, c1.v AS med
               FROM c1 JOIN tot ON c1.cls = tot.cls
               WHERE (tot.n + 1) // 2 > c1.cum - c1.cnt
                 AND (tot.n + 1) // 2 <= c1.cum),
       devs AS (SELECT r.cls, r.v, abs(r.v - m.med) AS dev
                FROM rows_ r JOIN med m ON r.cls = m.cls),
       g2 AS (SELECT cls, dev, CAST(count(*) AS BIGINT) AS cnt
              FROM devs GROUP BY cls, dev),
       c2 AS (SELECT cls, dev, cnt,
                sum(cnt) OVER (PARTITION BY cls ORDER BY dev
                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM g2),
       mad AS (SELECT c2.cls, c2.dev AS mad
               FROM c2 JOIN tot ON c2.cls = tot.cls
               WHERE (tot.n + 1) // 2 > c2.cum - c2.cnt
                 AND (tot.n + 1) // 2 <= c2.cum)
       SELECT d.cls, CAST(count(*) AS BIGINT) AS n, m.med, a.mad,
         CAST(sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers,
         CAST(max(d.dev) AS BIGINT) AS max_dev
       FROM devs d
       JOIN med m ON d.cls = m.cls
       JOIN mad a ON d.cls = a.cls
       GROUP BY d.cls, m.med, a.mad
       ORDER BY d.cls"""

  /** The weighted part co-order pair frame — (u, v, cnt) with u < v,
    * cnt = shared distinct orders — localCheckpoint'ed in [[Memo]]
    * (the Dedup.corpusBands discipline): q360's
    * min-plus SSSP and q386's quadrangle census both build their graph
    * from this exact frame, and the distinct-(order, part) self-join
    * that derives it is the heaviest step of both queries, so it runs
    * ONCE per session per fixture instead of once per query per bench
    * pass. At cluster scale the checkpoint becomes a persisted table
    * bucketed on the pair. */
  private[engine] def coOrderCounts(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "coOrderCounts", sfDir, Seq("lineitem")) {
      import spark.implicits._
      val li = Tables.lineitem(spark, sfDir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
        .distinct()
      li.as("a")
        .join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("u"), $"b.pk".as("v"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
    }

  /** Relaxation rounds for [[q360SsspMinplus]] — a fixed horizon, so
    * results are "distance within ≤4 hops", deterministic and
    * oracle-unrollable (the q230/q340 bounded-loop discipline). */
  val Q360Rounds = 4

  /** q360 — BOUNDED MIN-PLUS SHORTEST PATHS: single-source-set
    * weighted distances over the part co-order graph (edge weight
    * 1 + 1000 div co-order-count — strong ties are cheap), seeded at
    * every max-size part, relaxed [[Q360Rounds]] Bellman–Ford rounds.
    * The min-plus semiring generalizes q119's boolean reachability;
    * distances stay exact BIGINTs. Output: the reachability histogram
    * over 500-unit distance bands.
    *
    * Scale: each round is one edges⋈frontier equi join on the source
    * key plus a min-aggregate — the canonical Pregel step as
    * DataFrames; `localCheckpoint` cuts lineage each round (the
    * q242/q302 loop discipline; at cluster scale the persist-to-
    * storage swap applies). Edges come from the per-order pair
    * fan-out, bounded by the per-order line count. */
  def q360SsspMinplus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = coOrderCounts(spark, sfDir)
    // pre-partitioned on the per-round join key: the relaxation join
    // reads the checkpoint's src partitioning instead of re-shuffling
    // the edge list every round (dist arrives node-partitioned from the
    // previous round's min-aggregate), so a round's only edge-scale
    // exchange is the min-aggregate itself
    val edges = pairs
      .select($"u".as("src"), $"v".as("dst"), $"cnt")
      .unionAll(pairs.select($"v".as("src"), $"u".as("dst"), $"cnt"))
      .select($"src", $"dst", expr("1 + (1000 div cnt)").as("w"))
      .repartition($"src")
      .transform(Loops.cut)
    val seeds = Tables.part(spark, sfDir)
      .filter($"p_size" === 50)
      .select($"p_partkey".as("node"), lit(0L).as("dist"))
    var dist = seeds.transform(Loops.cut)
    for (_ <- 1 to Q360Rounds) {
      dist = dist
        .unionAll(dist.join(edges, $"node" === $"src")
          .select($"dst".as("node"), ($"dist" + $"w").as("dist")))
        .groupBy($"node")
        .agg(min($"dist").as("dist"))
        .transform(Loops.cut)
    }
    dist.groupBy(expr("dist div 500").as("band"))
      .agg(count(lit(1)).as("n_parts"),
        min($"dist").as("min_dist"), max($"dist").as("max_dist"))
      .orderBy($"band")
  }

  def q360Sql: String = {
    val relax = (r: Int) =>
      s"""d$r AS MATERIALIZED (
         SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d${r - 1}
           UNION ALL
           SELECT e.dst AS node, p.dist + e.w AS dist
           FROM d${r - 1} p JOIN edges e ON e.src = p.node)
         GROUP BY node)"""
    val rounds = (1 to Q360Rounds).map(relax).mkString(",\n       ")
    s"""WITH li AS (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       pairs AS (
         SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS cnt
         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY 1, 2),
       edges AS (
         SELECT u AS src, v AS dst, 1 + (1000 // cnt) AS w FROM pairs
         UNION ALL
         SELECT v, u, 1 + (1000 // cnt) FROM pairs),
       d0 AS (
         SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
         FROM part WHERE p_size = 50),
       $rounds
       SELECT dist // 500 AS band, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(min(dist) AS BIGINT) AS min_dist,
         CAST(max(dist) AS BIGINT) AS max_dist
       FROM d${Q360Rounds} GROUP BY 1 ORDER BY band"""
  }
}
