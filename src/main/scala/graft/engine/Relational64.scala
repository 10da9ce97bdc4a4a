package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eighty-third query wave: q382 zone-map file pruning through the
  * graftsink connector (range-clustered write, stats sidecars, scan
  * skips non-matching files), q383 Weisfeiler–Lehman color refinement
  * over the part co-order graph (the graph-fingerprinting round), and
  * q384 transition-model surprise histogram (likelihood audit of the
  * q380 Markov model on held-out data).
  */
object Relational64 {

  /** q382 — ZONE-MAP PRUNING ROUNDTRIP: lineitem facts are staged
    * into a `graftsink` table RANGE-CLUSTERED on quantity cents
    * (`repartitionByRange` → each part file owns a narrow value
    * band), then read back with a tight quantity predicate. The
    * commit step wrote per-file min/max sidecars
    * ([[graft.sources.GraftStats]]); the scan consults them and
    * SKIPS every file whose band cannot satisfy the pushed filters —
    * data-skipping at the connector, the q167 zone-map idea moved
    * inside the source where a 100 TB table needs it. Wave84Spec
    * plan-asserts the partition count collapses; the oracle proves
    * pruning is result-invisible.
    *
    * Scale: pruning cost is one tiny sidecar read per file at plan
    * time; the surviving scan is band-local. Clustering is the
    * writer's one-time sort — exactly the trade every lakehouse
    * OPTIMIZE makes. */
  def q382ZonemapPruning(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val out = s.dir("graft-zm-")
    Tables.lineitem(spark, sfDir)
      .select($"l_partkey".as("pk"),
        Exact.cents($"l_quantity").as("qc"),
        Exact.cents($"l_extendedprice").as("pc"))
      .repartitionByRange(8, $"qc")
      .write.format("graftsink").mode("append")
      .option("path", out).save()
    TempIo.materialize(spark,
      spark.read.format("graftsink").load(out)
        .filter($"qc" >= 4701L && $"qc" <= 5000L)
        .groupBy(expr("pk % 10").as("residue"))
        .agg(count(lit(1)).as("n_lines"),
          sum($"pc").as("sum_price_cents"),
          min($"qc").as("min_qty_cents"),
          max($"qc").as("max_qty_cents"))
        .orderBy($"residue"))
  }

  def q382Sql: String =
    """SELECT l_partkey % 10 AS residue,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           AS BIGINT)) AS BIGINT) AS sum_price_cents,
         min(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS min_qty_cents,
         max(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS max_qty_cents
       FROM lineitem
       WHERE CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
           BETWEEN 4701 AND 5000
       GROUP BY 1 ORDER BY residue"""

  /** q383 refinement rounds. */
  val Q383Rounds = 3

  /** The shared 12-hex-digit md5 color hash (BIGINT < 16^12, so a
    * degree-bounded SUM of colors stays far inside the long range). */
  private def hashColSpark(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 12), 16, 10) AS BIGINT)"
  private def hashColDuck(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 12) AS BIGINT)"

  /** q383 — WEISFEILER–LEHMAN COLOR REFINEMENT: 1-WL rounds over the
    * thresholded part co-order graph (q368's graph). Colors start as
    * degrees; each round re-colors every node with a hash of (own
    * color, SUM of neighbor colors, degree) — the order-invariant
    * multiset summary — and the emitted trajectory (distinct colors,
    * largest color class, xor signature per round) is the graph
    * fingerprint WL-based features and isomorphism screens read.
    * Refinement that stabilizes early ⇒ highly symmetric graph;
    * classes that keep splitting ⇒ structure a GNN could exploit.
    *
    * Scale: each round is one edge-list join against the color frame
    * plus a node-keyed aggregate — the PageRank shuffle shape; rounds
    * are unrolled ([[Q383Rounds]]), nothing driver-side but the
    * 3-row stats union. r14: the edge list is PRE-dst-PARTITIONED
    * (the per-round neighbor join pays no edge-scale exchange — only
    * the groupBy(src) aggregate shuffles edge-scale), the color⋈sum
    * join reuses both sides' node partitioning, and the thresholded
    * pair frame comes from the memoized
    * [[Relational56.coOrderCounts]] index shared with
    * q360/q368/q386. */
  def q383WlRefinement(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = Relational56.coOrderCounts(spark, sfDir)
      .filter($"cnt" >= 2L)
    val und = pairs.select($"u".as("src"), $"v".as("dst"))
      .unionAll(pairs.select($"v".as("src"), $"u".as("dst")))
      .repartition($"dst")
      .transform(Loops.cut)
    val deg = und.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("deg"))
    var colors = deg.select($"node", $"deg", $"deg".as("c"))
      .transform(Loops.cut)
    def stats(r: Int, cf: DataFrame): DataFrame =
      cf.agg(lit(r.toLong).as("round"),
        countDistinct($"c").as("n_colors"),
        max($"c").as("max_color"),
        expr("bit_xor(c)").as("sig"))
    var acc = stats(0, colors)
    for (r <- 1 to Q383Rounds) {
      val nb = und.join(colors.select($"node".as("dst2"), $"c".as("cd")),
          $"dst" === $"dst2")
        .groupBy($"src".as("node")).agg(sum($"cd").as("s"))
      colors = colors.withColumnRenamed("c", "pc").join(nb, Seq("node"))
        .select($"node", $"deg", expr(hashColSpark(
          "concat(CAST(pc AS STRING), ':', CAST(s AS STRING), ':', " +
            "CAST(deg AS STRING))"))
          .as("c"))
        .transform(Loops.cut)
      acc = acc.unionAll(stats(r, colors))
    }
    TempIo.materialize(spark, acc.orderBy($"round"))
  }

  def q383Sql: String = {
    val rounds = (1 to Q383Rounds).map { r =>
      s"""c$r AS MATERIALIZED (
           SELECT c.node, c.deg, ${hashColDuck(
             "CAST(c.c AS VARCHAR) || ':' || CAST(nb.s AS VARCHAR)" +
               " || ':' || CAST(c.deg AS VARCHAR)")}
             AS c
           FROM c${r - 1} c JOIN (
             SELECT u.src AS node, CAST(sum(p.c) AS BIGINT) AS s
             FROM und u JOIN c${r - 1} p ON u.dst = p.node
             GROUP BY 1) nb ON c.node = nb.node)"""
    }.mkString(",\n")
    val rows = (0 to Q383Rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            CAST(count(DISTINCT c) AS BIGINT) AS n_colors,
            CAST(max(c) AS BIGINT) AS max_color,
            CAST(bit_xor(c) AS BIGINT) AS sig
          FROM c$r"""
    }.mkString("\nUNION ALL\n")
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so
    // each WL round's multiple references to c{r-1} re-evaluated the
    // whole chain exponentially — >230 GB of spill on the x10 carve's
    // densified graph; materialized, refinement is linear in rounds
    s"""WITH li AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         FROM lineitem),
       p AS MATERIALIZED (
         SELECT a.pk AS u, b.pk AS v
         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         GROUP BY a.pk, b.pk HAVING count(*) >= 2),
       und AS MATERIALIZED (SELECT u AS src, v AS dst FROM p
               UNION ALL SELECT v AS src, u AS dst FROM p),
       c0 AS MATERIALIZED (
         SELECT src AS node, CAST(count(*) AS BIGINT) AS deg,
           CAST(count(*) AS BIGINT) AS c
         FROM und GROUP BY src),
       $rounds
       SELECT * FROM ($rows) ORDER BY round"""
  }

  /** q384 — TRANSITION-MODEL SURPRISE HISTOGRAM: score every held-out
    * transition by the train-set probability of its exact (prev →
    * next) pair (permille, q380's split) and histogram the test set
    * by probability band — plus the never-seen-in-training band. The
    * shifted analogue of q243's unigram surprise: a healthy model
    * concentrates test mass in high-probability bands; mass in the
    * zero band is distribution shift the q380 accuracy number can't
    * localize.
    *
    * Scale: the transition frame is the one lag pass; scoring is a
    * broadcast join against the |types|² probability table; output is
    * a ≤12-row histogram. */
  def q384TransitionSurprise(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val trans = Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("us"))
      .select($"event_type".as("next_t"), $"us",
        lag($"event_type", 1).over(w).as("prev_t"))
      .filter($"prev_t".isNotNull)
      .select($"prev_t", $"next_t",
        ($"us" < unix_micros(lit(Relational63.Q380Split).cast("timestamp")))
          .as("is_train"))
    val counts = trans.filter($"is_train")
      .groupBy($"prev_t", $"next_t").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy($"prev_t").agg(sum($"cnt").as("nt"))
    val probs = counts.join(totals, Seq("prev_t"))
      .select($"prev_t", $"next_t",
        expr("(1000 * cnt) div nt").as("p_permille"))
    trans.filter(!$"is_train")
      .join(broadcast(probs), Seq("prev_t", "next_t"), "left_outer")
      .select(coalesce($"p_permille", lit(-100L)).as("p"))
      .groupBy(expr("CASE WHEN p < 0 THEN -1 ELSE p div 100 END")
        .as("band"))
      .agg(count(lit(1)).as("n_test"),
        sum(greatest($"p", lit(0L))).as("sum_permille"))
      .orderBy($"band")
  }

  def q384Sql: String =
    s"""WITH trans AS (
         SELECT lag(event_type) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev_t,
           event_type AS next_t,
           epoch_us(ts) <
             epoch_us(TIMESTAMP '${Relational63.Q380Split}') AS is_train
         FROM events),
       t2 AS (SELECT * FROM trans WHERE prev_t IS NOT NULL),
       counts AS (
         SELECT prev_t, next_t, CAST(count(*) AS BIGINT) AS cnt
         FROM t2 WHERE is_train GROUP BY 1, 2),
       totals AS (SELECT prev_t, CAST(sum(cnt) AS BIGINT) AS nt
                  FROM counts GROUP BY 1),
       probs AS (
         SELECT c.prev_t, c.next_t, (1000 * c.cnt) // t.nt AS p_permille
         FROM counts c JOIN totals t ON c.prev_t = t.prev_t),
       scored AS (
         SELECT coalesce(p.p_permille, -100) AS p
         FROM t2 LEFT JOIN probs p
           ON t2.prev_t = p.prev_t AND t2.next_t = p.next_t
         WHERE NOT t2.is_train)
       SELECT CAST(CASE WHEN p < 0 THEN -1 ELSE p // 100 END AS BIGINT)
           AS band,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(greatest(p, 0)) AS BIGINT) AS sum_permille
       FROM scored GROUP BY 1 ORDER BY band"""
}
