package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Numeric contract shared with the DuckDB oracle: dot products and norms
  * are left-to-right sequential folds over DOUBLE-cast elements
  * (`aggregate(zip_with(...))` in Spark ≡ `list_reduce(list_transform)` in
  * DuckDB), so identical inputs give bit-identical doubles — no
  * tolerance-based comparison needed.
  *
  * Scale posture (100 TB): brute force is the correctness baseline and is
  * already the right plan when the query set is small (broadcast the
  * queries, scan the corpus once — no shuffle of the big side). The scale
  * path is LSH bucketing: corpus and queries both shuffle by bucket id,
  * the per-bucket join replaces the full scan, recall traded for a
  * corpus-sized-to-bucket-sized cost drop. A production variant would
  * pre-partition/bucket the corpus table by bucket id so repeated query
  * batches skip the corpus shuffle entirely.
  */
object Similarity {

  private[engine] val Dim = 64

  /** Left-to-right sequential dot product over double-cast elements —
    * the codegen'd native expression (see
    * [[graft.functions.VectorExpressions]]; bit-identical to the
    * higher-order-function formulation in [[dotHof]]). */
  private[engine] def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** HOF reference formulation of [[dot]] (interpreted, ~an order of
    * magnitude slower per pair) — kept as the executable spec the native
    * expression is tested against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine from a precomputed squared norm per side — the join-side
    * projection computes each ||v||² once instead of per pair (same fold,
    * bit-identical result, 3× less per-pair work). */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / sqrt(na * nb)

  /** SQL mirror: same fold shape (list_reduce is a left fold seeded by the
    * first element; Spark's 0.0 seed is IEEE-neutral for the first add). */
  private[engine] def dotSql(a: String, b: String): String =
    dotSqlN(a, b, Dim)

  private[engine] def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** Brute-force cosine top-k: every 100th vector is a query; top 10
    * neighbors (excluding self) over the full corpus. The query side is
    * broadcast; the corpus is scanned once with no shuffle until the
    * final per-query top-k.
    *
    * PRECONDITION on the broadcast: the query set here is a 1% slice of
    * the corpus, so it grows with the data — the unconditional
    * `broadcast()` hint holds only while queries fit executor memory
    * (~10^6 rows × 64 floats). At 100 TB, either cap the query set to a
    * fixed K or take the scale paths: q25 (LSH buckets) / q73 (IVF
    * cells), which shuffle instead of broadcasting. This query is the
    * EXACT BASELINE those are graded against, not the at-scale plan. */
  /** The (query_id, vec_id, cos) pair stream q24 and q38 both rank —
    * one definition, so their "row-identical, same oracle" pairing
    * cannot drift: norms precomputed once per side, query slice
    * broadcast, corpus scanned without a shuffle. */
  private def scoredPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("norm2"))
    val queries = emb
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"norm2".as("q_norm2"))
      .filter($"query_id" % 100 === 0)
    emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosinePre($"q_emb", $"embedding", $"q_norm2", $"norm2").as("cos"))
  }

  /** Deterministic per-query top-10 of a (query_id, vec_id, cos) frame —
    * the ranked tail q24/q25/q73 (and q232's full-dim baseline) share:
    * rank on the UNROUNDED cosine, round only in the output. */
  private[engine] def top10(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"query_id", $"rank")
  }

  def q24CosineTopk(spark: SparkSession, sfDir: String): DataFrame =
    top10(scoredPairs(spark, sfDir))

  def q24Sql: String =
    s"""WITH q AS (
          SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.query_id, e.vec_id,
            ${cosineSql("q.q_emb", "e.embedding")} AS cos
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Sign-LSH bucket id: bit j (4 bits / 16 buckets) is the sign of
    * the strided element sum over indices ≡ j (mod 4) — a deterministic, engine-
    * portable stand-in for random-hyperplane projections (the projection
    * vectors are 0/1 indicator masks). */
  /** Lambda-free unrolled strided sums (16 element_at terms per
    * plane): bit-identical to the former aggregate/transform fold
    * (0.0 + v1 ≡ v1 in IEEE, then the same left-to-right adds), pure
    * codegen, and — the reason for the unroll — free of
    * NamedLambdaVariables, whose duplication across self-join sides
    * trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under non-broadcast
    * physical plans (found by q288's bucket self-join at local[4]). */
  /** Sign-LSH plane count. 4 planes / 16 buckets is the GATED contract
    * (the oracle twins pin it); `spark.graft.lsh.planes` widens the
    * index for scale runs — the knob every production LSH/IVF index
    * turns as the corpus grows, because in-bucket costs (q25 serving,
    * q288 mining) are n·|bucket| and |bucket| ≈ n/2^planes: holding
    * planes fixed while n grows 10× is what read quadratic on the ×10
    * carve (227 s), and +4 planes restores the linear posture. A
    * non-default plane count changes bucket MEMBERSHIP and therefore
    * rows — approximate-by-contract, exactly like probing a different
    * nlist in IVF — so gated correctness runs always use the default. */
  /** The gated sign-LSH plane count — the oracle twins pin 4 planes /
    * 16 buckets; every non-default posture is opt-in. */
  val DefaultLshPlanes = 4

  /** Turnkey plane sizing: the plane count that holds the EXPECTED
    * bucket population at `targetBucketSize` as the corpus grows —
    * |bucket| ≈ n / 2^planes, so planes = ⌈log₂(n / target)⌉. This is
    * the function a production operator was previously expected to
    * compute by hand after reading the q288 carve measurement (fixed
    * planes ⇒ |bucket| ∝ n ⇒ in-bucket mining n·|bucket| goes
    * quadratic; +1 plane per corpus doubling keeps it linear).
    *
    * Clamped to [[DefaultLshPlanes]]..16: small corpora keep the gated
    * 16-bucket contract (never UNDER-partition below the pinned
    * default), and 16 planes = 65 536 buckets is the bucket-id width
    * the bit-sum representation carries. Like any plane-count change,
    * an auto-chosen count changes bucket MEMBERSHIP and therefore rows
    * — approximate-by-contract, exactly like probing a different nlist
    * in IVF — so gated correctness runs stay on the default.
    *
    * `targetBucketSize` trades recall for cost: candidates per probe
    * (serving, q25) and per-anchor negatives (mining, q288) are both
    * ≈ target; 4096 keeps the in-bucket self-join's per-bucket cell at
    * ~16 M pairs — comfortably one task — while leaving thousands of
    * candidates per probe. */
  def autoPlanes(corpusSize: Long, targetBucketSize: Long = 4096L): Int = {
    require(corpusSize > 0, s"corpusSize must be positive, got $corpusSize")
    require(targetBucketSize > 0,
      s"targetBucketSize must be positive, got $targetBucketSize")
    val raw = math.ceil(
      math.log(corpusSize.toDouble / targetBucketSize.toDouble) /
        math.log(2.0)).toInt
    math.min(16, math.max(DefaultLshPlanes, raw))
  }

  /** `spark.graft.lsh.planes`: `"auto"` → [[autoPlanes]] of the corpus
    * being indexed (size evaluated only then — the default path costs
    * no count job) with `spark.graft.lsh.targetBucket` (default 4096);
    * an explicit integer pins the count; unset → the gated default. */
  private def lshPlanes(spark: SparkSession, corpusSize: => Long): Int =
    spark.conf.get("spark.graft.lsh.planes", DefaultLshPlanes.toString) match {
      case "auto" =>
        autoPlanes(corpusSize,
          spark.conf.get("spark.graft.lsh.targetBucket", "4096").toLong)
      case s =>
        val p = s.toInt
        require(p >= 1 && p <= 16,
          s"spark.graft.lsh.planes must be in [1,16] or 'auto', got $p")
        p
    }

  /** Bucket/cell-keyed CANDIDATE join — the pair-enumeration step of
    * every LSH/IVF family member — pinned to a SHUFFLED hash join.
    * Left to size-based planning, Spark broadcasts the small side and
    * the join inherits the PROBE side's partitioning — which for a
    * compact corpus is its parquet split count (often ONE task), so
    * the n·|bucket| pair fan-out serializes: measured 224.6 s for
    * q288 at the ×10 carve under planes=5, vs 3.9 s with the join
    * shuffled — a 58× loss invisible to per-pair cost models. The
    * amplification through this join is 10²-10³×, so parallelism must
    * be sized by the SHUFFLE (spark.sql.shuffle.partitions), never by
    * input bytes; the shuffle-hash hint guarantees both sides exchange
    * on the key at every scale and beats size-based broadcast in
    * JoinSelection. Hash, not merge: per-key groups need no sort to
    * enumerate. */
  private def candidateJoin(probe: DataFrame, build: DataFrame,
      key: String): DataFrame =
    probe.join(build.hint("shuffle_hash"), Seq(key))

  private def lshBucket(emb: Column, planes: Int = 4): Column =
    (0 until planes).map { j =>
      val proj = ((j + 1) to Dim by planes)
        .map(i => element_at(emb, lit(i)).cast("double"))
        .reduce(_ + _)
      when(proj > 0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)

  private def lshBucketSql(emb: String): String =
    (0 until 4).map { j =>
      val proj = s"list_reduce(list_transform(range(${j + 1}, ${Dim + 1}, 4), i -> CAST($emb[i] AS DOUBLE)), (x, y) -> x + y)"
      s"(CASE WHEN $proj > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** LSH-bucketed approximate top-k — the scale path for q24: queries and
    * corpus co-shuffle on bucket id, candidates are bucket-mates only.
    * Same output shape as q24 (rank within retrieved candidates). */
  def q25AnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planes = lshPlanes(spark, Tables.embeddings(spark, sfDir).count())
    // separate scan per self-join side (the q288 discipline): distinct
    // attribute ids keep the bucket self-join free of Spark's
    // dedup-rebinding edge cases under non-broadcast physical plans
    def side() = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding",
        lshBucket($"embedding", planes).as("bucket"),
        dot($"embedding", $"embedding").as("norm2"))
    val emb = side()
    val queries = side()
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"bucket",
        $"norm2".as("q_norm2"))
      .filter($"query_id" % 100 === 0)
    val scored = candidateJoin(emb, queries, "bucket")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosinePre($"q_emb", $"embedding", $"q_norm2", $"norm2").as("cos"))
    top10(scored)
  }

  def q25Sql: String =
    s"""WITH e AS (
          SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
          FROM embeddings),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, bucket
          FROM e WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.query_id, e.vec_id,
            ${cosineSql("q.q_emb", "e.embedding")} AS cos
          FROM e JOIN q ON e.bucket = q.bucket
          WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q24 re-expressed with the bounded [[graft.functions.TopKAggregator]]
    * — map-side partial top-k instead of a full window sort; at scale the
    * shuffle carries k rows per (partition, query) rather than the whole
    * scored corpus. Output is row-identical to q24 (same oracle). */
  def q38CosineTopkAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    scoredPairs(spark, sfDir).groupBy($"query_id")
      .agg(graft.functions.TopKAggregator.top_k(10)($"cos", $"vec_id").as("top"))
      .select($"query_id", posexplode($"top").as(Seq("pos", "t")))
      .select($"query_id", ($"pos" + 1).as("rank"),
        $"t.id".as("vec_id"), round($"t.score", 6).as("cos"))
      .orderBy($"query_id", $"rank")
  }

  /** Embedding-cosine near-duplicate pairs: within-label blocking (the
    * label is the blocking key standing in for a coarse clustering),
    * pairs with cosine ≥ 0.35 (the synthetic embeddings are near-
    * orthogonal: within-label max cosine is ~0.45, so 0.35 marks the
    * "suspiciously close" tail; a real corpus would use ~0.9).
    *
    * SCALE CAVEAT: the block key here has fixed cardinality (10 labels),
    * so each block is N/10 rows and the self-join is O(N²/10) —
    * quadratic at any scale. That is acceptable only because this query
    * demonstrates the blocked-pair SHAPE; at 100 TB the block key must
    * shrink blocks to bounded size — IVF cell assignment (q73's
    * nearest-centroid with enough cells) or LSH buckets (q25), both of
    * which make block size independent of corpus size. */
  def q26EmbeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label",
        dot($"embedding", $"embedding").as("norm2"))
    val pairs = emb.as("a")
      .join(emb.as("b"), $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        cosinePre($"a.embedding", $"b.embedding", $"a.norm2", $"b.norm2").as("cos"))
    pairs.filter($"cos" >= 0.35)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos"))
      .orderBy($"vec_a", $"vec_b")
  }

  def q26Sql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35
        ORDER BY vec_a, vec_b"""

  /** Exact per-dimension class centroids — the clustering/IVF building
    * block. Each float component is scaled by 2^20 and floored: a
    * power-of-two scale is EXACT float arithmetic in both engines (no
    * decimal-cast rounding-mode hazards), so the per-(label, dim) sums
    * are exact integers and the final mean is one correctly-rounded
    * division. The ~2^-20 quantization is the documented contract.
    * Scale posture: posexplode fans each vector to 64 rows, partial
    * aggregation reduces them map-side to (labels x dims) groups. */
  def q72Centroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val Scale = 1048576L // 2^20
    Tables.embeddings(spark, sfDir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"label", $"dim", floor($"v" * Scale).as("s"))
      .groupBy($"label", $"dim")
      .agg(sum($"s").as("ssum"), count(lit(1)).as("n"))
      .withColumn("centroid", $"ssum" / ($"n" * lit(Scale.toDouble)))
      .select($"label", $"dim", $"n", $"centroid")
      .orderBy($"label", $"dim")
  }

  def q72Sql: String =
    """WITH x AS (
         SELECT label, i - 1 AS dim,
           CAST(floor(embedding[i] * 1048576) AS BIGINT) AS s
         FROM (SELECT label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
               FROM embeddings))
       SELECT label, dim, count(*) AS n,
         CAST(sum(s) AS BIGINT) / (count(*) * 1048576.0) AS centroid
       FROM x GROUP BY label, dim ORDER BY label, dim"""

  /** IVF coarse codebook: the q72 centroids as array columns (exact
    * doubles on both engines), with a precomputed squared norm. */
  private def centroidArrays(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    q72Centroids(spark, sfDir)
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"centroid"))),
        x => x.getField("centroid")).as("c"))
      .select($"label".as("cell"), $"c", dot($"c", $"c").as("cnorm2"))
  }

  private def centroidCtes: String =
    s"""cscaled AS (
          SELECT label, i - 1 AS dim,
            CAST(floor(embedding[i] * 1048576) AS BIGINT) AS s
          FROM (SELECT label, embedding,
                  unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings)),
        cdims AS (
          SELECT label, dim,
            CAST(sum(s) AS BIGINT) / (count(*) * 1048576.0) AS centroid
          FROM cscaled GROUP BY label, dim),
        cent AS (
          SELECT label AS cell, list(centroid ORDER BY dim) AS c
          FROM cdims GROUP BY label)"""

  /** IVF ANN (the coarse-quantizer variant the LSH form in q25 trades
    * against): every vector is assigned to its nearest centroid cell by
    * cosine (label-ascending tiebreak), queries probe ONLY their own
    * cell, and the exact top-k runs within the cell. All scoring uses
    * the sequential-fold dot product over bit-exact centroid doubles, so
    * cell assignment — argmax over floats — cannot diverge between
    * engines. Scale posture: assignment is a broadcast-codebook map over
    * the corpus; the probe join shuffles by cell id, replacing the full
    * scan with one cell (nprobe=1; recall rises with more probes — same
    * plan, wider join key). */
  /** IVF cell assignment (q73's first stage, shared with q229's IVF-PQ
    * composition): every vector lands in its nearest centroid cell by
    * cosine, label-ascending tiebreak. One broadcast-codebook map over
    * the corpus. */
  private def ivfAssigned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cent = centroidArrays(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("norm2"))
    val byCell = Window.partitionBy($"vec_id").orderBy($"score".desc, $"cell")
    emb.crossJoin(broadcast(cent))
      .select($"vec_id", $"embedding", $"norm2", $"cell",
        cosinePre($"embedding", $"c", $"norm2", $"cnorm2").as("score"))
      .withColumn("rn", row_number().over(byCell))
      .filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"norm2", $"cell")
  }

  def q73AnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = ivfAssigned(spark, sfDir)
    val queries = assigned.filter($"vec_id" % 100 === 0)
      .select($"cell", $"vec_id".as("query_id"),
        $"embedding".as("q_emb"), $"norm2".as("q_norm2"))
    val scored = candidateJoin(assigned, queries, "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosinePre($"q_emb", $"embedding", $"q_norm2", $"norm2").as("cos"))
    top10(scored)
  }

  def q73Sql: String =
    s"""WITH $centroidCtes,
        e AS (
          SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS norm2
          FROM embeddings),
        scoredcells AS (
          SELECT e.vec_id, e.embedding, e.norm2, cent.cell,
            ${dotSql("e.embedding", "cent.c")}
              / sqrt(e.norm2 * ${dotSql("cent.c", "cent.c")}) AS score
          FROM e CROSS JOIN cent),
        assigned AS (
          SELECT vec_id, embedding, norm2, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cell) AS rn
            FROM scoredcells) WHERE rn = 1),
        q AS (
          SELECT cell, vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
          FROM assigned WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.query_id, a.vec_id,
            ${dotSql("q.q_emb", "a.embedding")} / sqrt(q.q_norm2 * a.norm2) AS cos
          FROM assigned a JOIN q USING (cell)
          WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** int8 scalar quantization — the storage-shrink step before ANN
    * indexing (4 B float → 1 B int): q = clamp(floor(x·127), ±127) on
    * the first embedding dimension, histogrammed per label. Bit-exact
    * cross-engine because float→double widening is exact, ·127.0 is one
    * IEEE double op, and floor/clamp are integer-exact — same recipe as
    * q72's scaled-float centroids. At scale this is a pure map over the
    * vector column (transform() over all dims in production); the
    * histogram is diagnostics proving the quantizer's range coverage. */
  def q83Quantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"label",
        greatest(lit(-127L), least(lit(127L),
          floor(element_at($"embedding", 1).cast("double") * 127.0)))
          .as("q0"))
      .groupBy($"label", $"q0")
      .agg(count(lit(1)).as("counts"))
      .orderBy($"label", $"q0")
  }

  def q83Sql: String =
    """SELECT label,
       greatest(-127, least(127,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 127.0) AS BIGINT))) AS q0,
       count(*) AS counts
       FROM embeddings GROUP BY 1, 2 ORDER BY label, q0"""

  // --- q146: product quantization + asymmetric distance (ADC) ---------

  private val PqM = 8    // subspaces
  private val PqK = 16   // codewords per subspace
  private val PqSub = Dim / PqM

  /** Squared L2 between the `m`-th 8-dim slices of two vectors (`m`
    * 0-based, dynamic column so one broadcast frame serves all
    * subspaces) — the codegen'd native expression over the slices
    * (bit-identical to the HOF fold; see [[l2Hof]]). */
  private def subDist(a: Column, b: Column, m: Column): Column =
    graft.functions.VectorExpressions.l2_distance_sq(
      slice(a, m * PqSub + 1, lit(PqSub)),
      slice(b, m * PqSub + 1, lit(PqSub)))

  /** SQL twin of [[subDist]] (same element order, same fold; the
    * list_reduce seed-by-first-element equals Spark's 0.0 seed because
    * every term is a non-negative square). */
  private def subDistSql(a: String, b: String, m: String): String =
    s"""list_reduce(list_transform(range(1, ${PqSub + 1}),
          i -> (CAST($a[$m * $PqSub + i] AS DOUBLE) - CAST($b[$m * $PqSub + i] AS DOUBLE))
             * (CAST($a[$m * $PqSub + i] AS DOUBLE) - CAST($b[$m * $PqSub + i] AS DOUBLE))),
        (x, y) -> x + y)"""

  /** Squared L2 over the full 64 dims — the exact distance the ADC
    * estimate is reported against (codegen'd; bit-identical to
    * [[l2Hof]]). */
  private def fullDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.l2_distance_sq(a, b)

  /** HOF reference formulation of squared L2 (interpreted) — the
    * executable spec the native expression is asserted bit-identical
    * against, mirroring [[dotHof]]. */
  def l2Hof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
                               (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  private def fullDistSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${Dim + 1}),
          i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
             * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
        (x, y) -> x + y)"""

  /** The 128-row (m, code, cvec) codebook frame: codewords are the
    * 16 lowest-vec_id embeddings (deterministic, data-derived — a
    * k-means codebook would train from exactly this kind of seed), each
    * replicated across the 8 subspaces. Tiny by construction → always
    * broadcast. */
  private def pqCodebook(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .orderBy($"vec_id").limit(PqK)
      .withColumn("code",
        row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"code",
        explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        $"embedding".as("cvec"))
  }

  /** Product quantization with asymmetric distance (ADC) — the memory
    * scale path past q73's IVF: each vector compresses to 8 nibble codes
    * (64 B float → 4 B), queries score candidates through a 128-entry
    * per-query lookup table (8 adds per pair instead of a 64-dim fold).
    *
    * Encode: per (vector, subspace) argmin of subspace L2 over the 16
    * codewords, (distance, code) lexicographic tie-break so float ties
    * cannot diverge engines. ADC: per query, LUT[m*16+code] = subspace
    * distance to each codeword; candidate distance = Σ_m LUT lookups —
    * a left fold over m, bit-identical in both engines. Top-3 by
    * (adc_d, vec_id) is then re-scored exactly (64-dim fold) to report
    * the quantization error the judge of an ANN system actually reads.
    *
    * Scale posture (100 TB): the codebook is O(K·D) and broadcast; the
    * encode pass is a map over the corpus (one scan, no shuffle); the
    * candidate scan carries 4 B codes instead of 256 B vectors — the
    * whole point of PQ is that this scan stays in memory at corpus
    * sizes where raw vectors spill. The cross join here is the honest
    * small-query-set plan (queries broadcast); production composes it
    * with q73's IVF cells (IVF-PQ) so each query scores one cell, not
    * the corpus. */
  /** PQ encode (q146's first stage, shared with q229): per (vector,
    * subspace) argmin of subspace L2 over the codewords, (distance,
    * code) lexicographic tie-break; returns (vec_id, codes[8]). One
    * broadcast-codebook map over the corpus, one shuffle by vec_id. */
  private def pqCodes(emb: DataFrame, cb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.crossJoin(broadcast(cb))
      .select($"vec_id", $"m", $"code",
        subDist($"embedding", $"cvec", $"m").as("d"))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"d", $"code")).getField("code").as("code"))
      .groupBy($"vec_id")
      .agg(transform(array_sort(collect_list(struct($"m", $"code"))),
        x => x.getField("code")).as("codes"))
  }

  /** Per-query ADC lookup table over a codebook: LUT[m·16+code] =
    * subspace distance from the query to that codeword. `keyCols` ride
    * along (q229 carries the probe cell; q146 carries none). */
  private def pqLut(queries: DataFrame, cb: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import queries.sparkSession.implicits._
    queries.crossJoin(broadcast(cb))
      .select($"query_id" +: keyCols.map(col) :+
        ($"m" * PqK + $"code").as("idx") :+
        subDist($"q_emb", $"cvec", $"m").as("d"): _*)
      .groupBy($"query_id" +: keyCols.map(col): _*)
      .agg(transform(array_sort(collect_list(struct($"idx", $"d"))),
        x => x.getField("d")).as("lut"))
  }

  /** Σ_m LUT[m·16 + codes[m]] — the 8-add ADC estimate. */
  private def adcFold(lut: Column, codes: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(PqM - 1)),
        m => element_at(lut, m * PqK + element_at(codes, m + 1) + 1)),
      lit(0.0), (acc, v) => acc + v)

  def q146PqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cb = pqCodebook(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val codes = pqCodes(emb, cb)
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val lut = pqLut(queries, cb, Seq.empty)
    // q_emb stays OUT of the quadratic stage: the per-query window
    // shuffles and sorts |queries|·|corpus| rows, and dragging the
    // 64-float query vector through it just to compute exact_d for the
    // 3 survivors per query would widen every shuffled row by ~256
    // bytes — join it back from the (tiny, broadcast) query frame
    // after the rank filter instead.
    val adc = codes.crossJoin(broadcast(lut))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"codes",
        adcFold($"lut", $"codes").as("adc_d"))
    val topk = Window.partitionBy($"query_id").orderBy($"adc_d", $"vec_id")
    adc.withColumn("rk", row_number().over(topk))
      .filter($"rk" <= 3)
      .join(emb, "vec_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"rk", $"vec_id",
        round($"adc_d", 6).as("adc_d"),
        round(fullDist($"q_emb", $"embedding"), 6).as("exact_d"))
      .orderBy($"query_id", $"rk")
  }

  def q146Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        cbase AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                 embedding AS cvec
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT $PqK)),
        cb AS (
          SELECT m, code, cvec
          FROM cbase CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m)),
        enc AS (
          SELECT e.vec_id, cb.m, cb.code,
            ${subDistSql("e.embedding", "cb.cvec", "cb.m")} AS d
          FROM e CROSS JOIN cb),
        codes AS (
          SELECT vec_id, list(code ORDER BY m) AS codes FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM enc) WHERE rn = 1
          GROUP BY vec_id),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb
          FROM e WHERE vec_id % 100 = 0),
        lut AS (
          SELECT query_id, list(d ORDER BY idx) AS lut FROM (
            SELECT q.query_id, cb.m * $PqK + cb.code AS idx,
              ${subDistSql("q.q_emb", "cb.cvec", "cb.m")} AS d
            FROM q CROSS JOIN cb)
          GROUP BY query_id),
        adc AS (
          SELECT l.query_id, c.vec_id,
            list_reduce(list_transform(range(0, $PqM),
              m -> l.lut[m * $PqK + c.codes[m + 1] + 1]),
              (x, y) -> x + y) AS adc_d
          FROM codes c CROSS JOIN lut l
          WHERE c.vec_id <> l.query_id),
        ranked AS (
          SELECT query_id, vec_id, adc_d,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d, vec_id) AS rk
          FROM adc)
        SELECT r.query_id, r.rk, r.vec_id, round(r.adc_d, 6) AS adc_d,
          round(${fullDistSql("q.q_emb", "e.embedding")}, 6) AS exact_d
        FROM ranked r
        JOIN q ON q.query_id = r.query_id
        JOIN e ON e.vec_id = r.vec_id
        WHERE r.rk <= 3 ORDER BY r.query_id, r.rk"""

  /** Neighbors reported per query in the IVF-PQ composition. */
  private val IvfPqK = 10

  /** q229 — IVF-PQ: the production ANN path q73 and q146 each prove
    * half of, composed. Vectors carry (IVF cell, PQ codes); each query
    * probes ONLY its own cell (nprobe=1) and scores the cell's
    * candidates through its 128-entry ADC lookup table — the
    * FAISS-style IVFADC layout re-expressed relationally: candidate
    * generation is the cell-keyed equi join, verification is the
    * 8-add LUT fold, and NOTHING scans the corpus per query. The
    * output is the audit a production index ships with: per query,
    * the probed candidate count and recall@10 of the composed index
    * against the exact full-corpus L2 top-10 (q24's exact-contrast
    * discipline; q183 audits the label quality the same way) — the
    * number that tells you whether nprobe=1 suffices or the cell
    * boundary is eating neighbors.
    *
    * Determinism: cell assignment, subspace encode, LUT fold, and the
    * exact re-rank all ride the shared sequential-fold arithmetic
    * (bit-exact in DuckDB's list_reduce); every rank ties on vec_id.
    *
    * Scale posture (100 TB): the corpus never moves — one broadcast-
    * codebook encode pass, then the candidate scan touches one cell's
    * 4 B codes per query via the (cell)-keyed shuffle join with the
    * broadcast query LUTs. The exact-baseline cross join exists ONLY
    * for the audit (it is the recall denominator, same role as q24
    * against q25/q73) — the serving path is the cell join alone. */
  def q229IvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = ivfAssigned(spark, sfDir)
    val cb = pqCodebook(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val codes = pqCodes(emb, cb)
    // candidate store: (cell, vec_id, codes) — 4 B of codes per vector
    val cand = assigned.select($"vec_id", $"cell").join(codes, "vec_id")
    val queries = assigned.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"cell")
    val lut = pqLut(queries, cb, Seq("cell"))
    // the cell-keyed join feeding the ADC fold: each query meets only
    // its own cell's candidates
    val adc = cand.join(broadcast(lut), "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", adcFold($"lut", $"codes").as("adc_d"))
    val wApprox = Window.partitionBy($"query_id").orderBy($"adc_d", $"vec_id")
    val approx = adc.withColumn("rk", row_number().over(wApprox))
      .filter($"rk" <= IvfPqK)
      .select($"query_id", $"vec_id")
    // exact full-corpus L2 top-10 — the recall denominator
    val wExact = Window.partitionBy($"query_id").orderBy($"d", $"vec_id")
    val exact = emb
      .crossJoin(broadcast(queries.select($"query_id", $"q_emb")))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", fullDist($"q_emb", $"embedding").as("d"))
      .withColumn("rk", row_number().over(wExact))
      .filter($"rk" <= IvfPqK)
      .select($"query_id", $"vec_id")
    val nCand = adc.groupBy($"query_id").agg(count(lit(1)).as("n_cand"))
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("hits"))
    queries.select($"query_id")
      .join(nCand, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select($"query_id", $"n_cand", $"hits",
        round($"hits".cast("double") / IvfPqK, 6).as("recall"))
      .orderBy($"query_id")
  }

  def q229Sql: String =
    s"""WITH $centroidCtes,
        e AS (
          SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS norm2
          FROM embeddings),
        scoredcells AS (
          SELECT e.vec_id, e.embedding, e.norm2, cent.cell,
            ${dotSql("e.embedding", "cent.c")}
              / sqrt(e.norm2 * ${dotSql("cent.c", "cent.c")}) AS score
          FROM e CROSS JOIN cent),
        assigned AS (
          SELECT vec_id, embedding, norm2, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cell) AS rn
            FROM scoredcells) WHERE rn = 1),
        cbase AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                 embedding AS cvec
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT $PqK)),
        cb AS (
          SELECT m, code, cvec
          FROM cbase CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m)),
        enc AS (
          SELECT e.vec_id, cb.m, cb.code,
            ${subDistSql("e.embedding", "cb.cvec", "cb.m")} AS d
          FROM e CROSS JOIN cb),
        codes AS (
          SELECT vec_id, list(code ORDER BY m) AS codes FROM (
            SELECT vec_id, m, code,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
            FROM enc) WHERE rn = 1
          GROUP BY vec_id),
        cand AS (
          SELECT a.cell, c.vec_id, c.codes
          FROM assigned a JOIN codes c USING (vec_id)),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, cell
          FROM assigned WHERE vec_id % 100 = 0),
        lut AS (
          SELECT query_id, list(d ORDER BY idx) AS lut FROM (
            SELECT q.query_id, cb.m * $PqK + cb.code AS idx,
              ${subDistSql("q.q_emb", "cb.cvec", "cb.m")} AS d
            FROM q CROSS JOIN cb)
          GROUP BY query_id),
        adc AS (
          SELECT q.query_id, cand.vec_id,
            list_reduce(list_transform(range(0, $PqM),
              m -> l.lut[m * $PqK + cand.codes[m + 1] + 1]),
              (x, y) -> x + y) AS adc_d
          FROM cand JOIN q USING (cell)
          JOIN lut l ON l.query_id = q.query_id
          WHERE cand.vec_id <> q.query_id),
        approx AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d, vec_id) AS rk
            FROM adc) WHERE rk <= $IvfPqK),
        exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${fullDistSql("q.q_emb", "e.embedding")}, e.vec_id)
                AS rk
            FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id) WHERE rk <= $IvfPqK),
        ncand AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
          FROM adc GROUP BY 1),
        h AS (
          SELECT a.query_id, CAST(count(*) AS BIGINT) AS hits
          FROM approx a JOIN exact x USING (query_id, vec_id) GROUP BY 1)
        SELECT q.query_id, n.n_cand,
          CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
          round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / $IvfPqK, 6) AS recall
        FROM q JOIN ncand n USING (query_id)
        LEFT JOIN h USING (query_id)
        ORDER BY query_id"""

  /** Coreset size for the greedy k-center selection. */
  private val KCenterK = 5

  /** q230 — greedy k-center coreset selection (farthest-point
    * traversal): pick the corpus point farthest (squared L2) from the
    * already-selected set, k times, seeding at the minimum vec_id —
    * the classic 2-approximation to the k-center cover and the
    * workhorse of training-data CORESET curation (pick the k examples
    * that best cover embedding space; the selection radii read out
    * directly as the cover quality curve). Output: selection order,
    * chosen vector, and the distance that forced the choice — the
    * radius the remaining corpus is covered within after each pick.
    *
    * Determinism: distances are the shared sequential fold; the argmax
    * ties on the SMALLER vec_id via a lexicographic (d, −vec_id)
    * struct max — both engines replay the identical selection path.
    *
    * Scale posture (100 TB): the loop state is ONE row per point (its
    * running min-distance) plus the k-row selected set; each iteration
    * is one broadcast of the newest center, one map over the corpus
    * (`least` of old distance and new), and one all-reduce argmax —
    * k scans, no shuffle of the corpus, which is exactly how
    * farthest-point runs on a cluster. `localCheckpoint` truncates the
    * per-iteration lineage (the persist-to-storage swap at real scale,
    * same note as Dedup's). The k driver-side scalars are the selected
    * ids — bounded by k, not data. */
  def q230KCenterCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val seedId = emb.agg(min($"vec_id")).head().getLong(0)
    def centerEmb(id: Long) = broadcast(
      emb.filter($"vec_id" === id).select($"embedding".as("c_emb")))
    var selected = Vector((1L, seedId, 0.0))
    var mind = emb.crossJoin(centerEmb(seedId))
      .select($"vec_id", $"embedding",
        fullDist($"embedding", $"c_emb").as("d"))
      .localCheckpoint()
    for (i <- 2 to KCenterK) {
      val far = mind
        .agg(max(struct($"d", (-$"vec_id").as("nv"))).as("m"))
        .select($"m.d", $"m.nv").head()
      val (fd, fid) = (far.getDouble(0), -far.getLong(1))
      selected :+= ((i.toLong, fid, fd))
      // the k-th selection needs no distance update — localCheckpoint
      // is eager, so an unconditional update would burn one whole
      // corpus scan on a frame nobody reads (the SQL twin already
      // guards this: q230Sql emits d_i only for i < k)
      if (i < KCenterK) {
        mind = mind.crossJoin(centerEmb(fid))
          .select($"vec_id", $"embedding",
            least($"d", fullDist($"embedding", $"c_emb")).as("d"))
          .localCheckpoint()
      }
    }
    selected.toDF("sel_order", "vec_id", "radius")
      .select($"sel_order", $"vec_id", round($"radius", 6).as("radius"))
      .orderBy($"sel_order")
  }

  /** Oracle: the same greedy path unrolled — k−1 explicit
    * (distance-update, argmax) steps, each a CTE pair. */
  def q230Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c1 AS (
          SELECT vec_id, embedding FROM e
          WHERE vec_id = (SELECT min(vec_id) FROM e)),
        d1 AS (
          SELECT e.vec_id, e.embedding,
            ${fullDistSql("e.embedding", "c1.embedding")} AS d
          FROM e CROSS JOIN c1)"""
    for (i <- 2 to KCenterK) {
      sb ++= s""",
        p$i AS MATERIALIZED (SELECT vec_id, d FROM d${i - 1}
                ORDER BY d DESC, vec_id LIMIT 1),
        c$i AS MATERIALIZED (SELECT e.vec_id, e.embedding, p$i.d
                FROM e JOIN p$i USING (vec_id))"""
      if (i < KCenterK) sb ++= s""",
        d$i AS MATERIALIZED (
          SELECT p.vec_id, p.embedding,
            least(p.d, ${fullDistSql("p.embedding", s"c$i.embedding")}) AS d
          FROM d${i - 1} p CROSS JOIN c$i)"""
    }
    sb ++= s"""
        SELECT CAST(1 AS BIGINT) AS sel_order, vec_id, 0.0 AS radius FROM c1"""
    for (i <- 2 to KCenterK) sb ++= s"""
        UNION ALL SELECT CAST($i AS BIGINT), vec_id, round(d, 6) FROM c$i"""
    sb ++= "\n        ORDER BY sel_order"
    sb.toString
  }

  /** q235 — IVF index health audit: per centroid cell, how many
    * vectors natively carry the cell's label vs how many the nearest-
    * centroid assignment actually routes there, the cell's share of
    * the corpus, and its imbalance factor (share × #cells — 1.0 is
    * perfectly balanced). Empty or bloated cells are precisely what
    * degrades q229's nprobe=1 recall and wrecks probe-cost uniformity,
    * so this table is read BEFORE trusting the recall table: a cold
    * cell means its members were captured by a neighboring centroid
    * (label ≠ assignment migration). Share/imbalance are exact int
    * ratios in one IEEE division each.
    *
    * Scale: assignment is q73's broadcast-codebook map; everything
    * downstream is |cells|-sized aggregates. */
  def q235IvfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val byLabel = emb.groupBy($"label".cast("long").as("cell"))
      .agg(count(lit(1)).as("n_label"))
    val assigned = ivfAssigned(spark, sfDir)
      .groupBy($"cell").agg(count(lit(1)).as("n_assigned"))
    val tot = emb.agg(count(lit(1)).as("n_total"),
      countDistinct($"label").as("n_cells"))
    byLabel.join(assigned, Seq("cell"), "left")
      .na.fill(0L, Seq("n_assigned"))
      .crossJoin(broadcast(tot))
      .select($"cell", $"n_label", $"n_assigned",
        round($"n_assigned".cast("double") / $"n_total".cast("double"), 6)
          .as("share"),
        round($"n_assigned".cast("double") * $"n_cells".cast("double")
          / $"n_total".cast("double"), 6).as("imbalance"))
      .orderBy($"cell")
  }

  def q235Sql: String =
    s"""WITH $centroidCtes,
        e AS (
          SELECT vec_id, embedding, label,
            ${dotSql("embedding", "embedding")} AS norm2
          FROM embeddings),
        scoredcells AS (
          SELECT e.vec_id, cent.cell,
            ${dotSql("e.embedding", "cent.c")}
              / sqrt(e.norm2 * ${dotSql("cent.c", "cent.c")}) AS score
          FROM e CROSS JOIN cent),
        assigned AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cell) AS rn
            FROM scoredcells) WHERE rn = 1),
        bylabel AS (
          SELECT CAST(label AS BIGINT) AS cell,
            CAST(count(*) AS BIGINT) AS n_label
          FROM embeddings GROUP BY 1),
        byassign AS (
          SELECT CAST(cell AS BIGINT) AS cell,
            CAST(count(*) AS BIGINT) AS n_assigned
          FROM assigned GROUP BY 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_total,
            CAST(count(DISTINCT label) AS BIGINT) AS n_cells
          FROM embeddings)
        SELECT l.cell, l.n_label,
          CAST(coalesce(a.n_assigned, 0) AS BIGINT) AS n_assigned,
          round(CAST(coalesce(a.n_assigned, 0) AS DOUBLE)
            / CAST(t.n_total AS DOUBLE), 6) AS share,
          round(CAST(coalesce(a.n_assigned, 0) AS DOUBLE)
            * CAST(t.n_cells AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
            AS imbalance
        FROM bylabel l
        LEFT JOIN byassign a USING (cell)
        CROSS JOIN tot t
        ORDER BY l.cell"""

  /** Prefix lengths audited by the truncation recall study. */
  private val TruncDims = Seq(8, 16, 32)

  /** [[dotSql]] over only the first `n` elements. */
  private def dotSqlN(a: String, b: String, n: Int): String =
    s"list_reduce(list_transform(range(1, ${n + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** q232 — matryoshka truncation audit: recall@10 of cosine ranking
    * over the FIRST d dimensions (d ∈ 8/16/32) against the full 64-dim
    * exact top-10, per query. This is the dimension-adaptive-retrieval
    * question (matryoshka representation learning serves truncated
    * prefixes to cut index cost 2–8×): the table says how many true
    * neighbors each prefix length keeps, i.e. which truncation a
    * retrieval tier can run before re-ranking with full vectors.
    *
    * Scale posture: ONE broadcast-queries × corpus pair scan produces
    * all three prefix scores (the per-dim fold reads a slice of the
    * already-materialized pair — no extra scan, no shuffle beyond the
    * per-(dim, query) top-k); everything downstream is |dims × queries|
    * sized. The full-dim ranking is q24's baseline, reused as the
    * denominator. */
  def q232TruncationRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val pairs = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
    // the full-dim baseline IS q24 — reuse its scored-pair + top10 path
    // (bit-identical: IEEE multiply is commutative per element, same
    // left fold; cosinePre just computes each norm once per side
    // instead of once per pair)
    val fullTop = top10(scoredPairs(spark, sfDir))
      .select($"query_id", $"vec_id")
    val truncated = pairs
      .withColumn("trunc_dim", explode(typedlit(TruncDims)))
      .select($"trunc_dim", $"query_id", $"vec_id",
        (dot(slice($"embedding", lit(1), $"trunc_dim"),
             slice($"q_emb", lit(1), $"trunc_dim"))
          / sqrt(dot(slice($"embedding", lit(1), $"trunc_dim"),
                     slice($"embedding", lit(1), $"trunc_dim"))
               * dot(slice($"q_emb", lit(1), $"trunc_dim"),
                     slice($"q_emb", lit(1), $"trunc_dim")))).as("cos"))
    val wT = Window.partitionBy($"trunc_dim", $"query_id")
      .orderBy($"cos".desc, $"vec_id")
    val truncTop = truncated
      .withColumn("rk", row_number().over(wT)).filter($"rk" <= 10)
      .select($"trunc_dim", $"query_id", $"vec_id")
    val hits = truncTop.join(fullTop, Seq("query_id", "vec_id"))
      .groupBy($"trunc_dim", $"query_id")
      .agg(count(lit(1)).as("hits"))
    queries.select($"query_id")
      .crossJoin(broadcast(
        TruncDims.toDF("trunc_dim").select($"trunc_dim")))
      .join(hits, Seq("trunc_dim", "query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select($"trunc_dim".cast("long").as("trunc_dim"), $"query_id",
        $"hits", round($"hits".cast("double") / 10.0, 6).as("recall"))
      .orderBy($"trunc_dim", $"query_id")
  }

  def q232Sql: String = {
    val perDim = TruncDims.map { d =>
      s"""t$d AS (
          SELECT $d AS trunc_dim, query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                ${dotSqlN("e.embedding", "q.q_emb", d)}
                  / sqrt(${dotSqlN("e.embedding", "e.embedding", d)}
                       * ${dotSqlN("q.q_emb", "q.q_emb", d)}) DESC,
                e.vec_id) AS rk
            FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
          WHERE rk <= 10)"""
    }.mkString(",\n        ")
    val unionT = TruncDims.map(d => s"SELECT * FROM t$d").mkString("\n          UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id % 100 = 0),
        fulltop AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
              row_number() OVER (PARTITION BY q.query_id ORDER BY
                ${cosineSql("e.embedding", "q.q_emb")} DESC, e.vec_id) AS rk
            FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
          WHERE rk <= 10),
        $perDim,
        alltrunc AS (
          $unionT),
        h AS (
          SELECT t.trunc_dim, t.query_id, CAST(count(*) AS BIGINT) AS hits
          FROM alltrunc t JOIN fulltop f USING (query_id, vec_id)
          GROUP BY 1, 2),
        grid AS (
          SELECT d.trunc_dim, q.query_id
          FROM q CROSS JOIN (VALUES ${TruncDims.map(d => s"($d)").mkString(",")}) d(trunc_dim))
        SELECT CAST(g.trunc_dim AS BIGINT) AS trunc_dim, g.query_id,
          CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
          round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 10.0, 6) AS recall
        FROM grid g LEFT JOIN h USING (trunc_dim, query_id)
        ORDER BY trunc_dim, query_id"""
  }

  val Q241QueryMod = 83
  private val Q241Chunks = 3
  private val Q241K = 10

  /** sfDir → (events-fixture stamp, staged query-chunk dir): q241's
    * streamed query chunks are a pure function of the embeddings
    * fixture (vec_id filter + pmod carve), yet each call re-derived
    * them through [[Q241Chunks]] scan+coalesce(1) Spark jobs — the
    * fixture-prep-inside-the-timed-query disease the streaming family
    * already cured (pmodChunks discipline: fixture-stamp validated,
    * rebuilt on drift, chunk bytes identical by determinism of the
    * carve). Chunk→batch order is result-invisible here by the
    * operator's own contract (no cross-batch state; epoch-keyed
    * overwrite; final read re-sorts), so memoizing the staged files
    * cannot change the declared result. */
  private val annChunkCache =
    new scala.collection.mutable.HashMap[String, (String, String)]

  private def annQueryChunks(spark: SparkSession, sfDir: String): String =
    synchronized {
      import spark.implicits._
      val stamp = graft.streaming.Streaming.fixtureStamp(
        spark, s"$sfDir/embeddings.parquet")
      val cached = annChunkCache.get(sfDir).collect {
        case (`stamp`, d) if (1 to Q241Chunks).forall(i =>
          new java.io.File(s"$d/chunk$i.parquet").exists()) => d
      }
      cached.getOrElse {
        val src = TempIo.createTempDir("graft-annserve-src-")
        val queries = Tables.embeddings(spark, sfDir)
          .filter($"vec_id" % Q241QueryMod === 0)
        (1 to Q241Chunks).foreach { i =>
          val dir = s"$src/stage$i"
          queries.filter(pmod($"vec_id", lit(Q241Chunks)) === i - 1)
            .coalesce(1).write.parquet(dir)
          val part = new java.io.File(dir).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dest = java.nio.file.Paths.get(s"$src/chunk$i.parquet")
          java.nio.file.Files.move(part.toPath, dest)
          // pinned, strictly increasing mtimes: batch membership is
          // result-invisible, but a DETERMINISTIC replay order keeps
          // runs byte-comparable (same epoch → same file)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(
              1000000000000L + i * 60000L))
          TempIo.deleteRecursively(dir)
        }
        graft.engine.MemoTrace.built(s"annQueryChunks($sfDir)")
        TempIo.deleteAtExit(src)
        annChunkCache(sfDir) = (stamp, src)
        src
      }
    }

  /** q241 — STREAMING ANN serving: the q73 IVF index turned into the
    * online inference pattern — a static cell-keyed index serves a
    * STREAM of query vectors, micro-batch at a time, through
    * `foreachBatch` (the reference's S6 sink verb applied to model
    * serving). The corpus is assigned to IVF cells ONCE (batch, lineage-
    * truncated); each arriving micro-batch of queries is cell-assigned
    * against the broadcast codebook, joined to ITS cells' candidates,
    * and its top-[[Q241K]] written to an epoch-keyed directory — the
    * overwrite-by-epoch idempotence contract (q86/q228), so a replayed
    * batch rewrites rather than duplicates. Because each query is fully
    * served inside its own batch (no cross-batch state), the drained
    * result provably equals the batch q73 plan over the same query set
    * — which is exactly the oracle.
    *
    * Scale: the serving loop never rescans or reshuffles the corpus —
    * per batch it moves |queries| LUT-small rows (broadcast) against
    * the cell-bucketed index, the same posture FAISS serving tiers run;
    * index refresh is a batch rebuild swapped in by path. Results land
    * distributed in the sink (no driver materialization). */
  def q241StreamAnnServe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val index = ivfAssigned(spark, sfDir).localCheckpoint()
    // materialized like `index`: the foreachBatch closure re-plans its
    // captured frames EVERY micro-batch, and a lazy `cent` would re-run
    // the corpus-wide centroid aggregation per batch just to rebuild
    // the 10-row codebook — the 'serving never rescans the corpus'
    // posture holds only if the codebook is pinned
    val cent = centroidArrays(spark, sfDir).localCheckpoint()
    val src = annQueryChunks(spark, sfDir)
    val ckpt = TempIo.createTempDir("graft-annserve-ckpt-")
    val out = TempIo.createTempDir("graft-annserve-out-")
    val queries = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % Q241QueryMod === 0)
    val q = graft.streaming.Streaming.startStream(spark)(spark.readStream
      .schema(queries.schema)
      .option("pathGlobFilter", "chunk*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .transform(graft.plans.PlanProbe.record).writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val byCell = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("cell"))
        val qc = batch
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
          .withColumn("q_norm2", dot(col("q_emb"), col("q_emb")))
          .crossJoin(broadcast(cent))
          .withColumn("score",
            cosinePre(col("q_emb"), col("c"), col("q_norm2"), col("cnorm2")))
          .withColumn("rn", row_number().over(byCell))
          .filter(col("rn") === 1)
          .select(col("cell"), col("query_id"), col("q_emb"), col("q_norm2"))
        val topk = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        index.join(broadcast(qc), "cell")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            cosinePre(col("q_emb"), col("embedding"),
              col("q_norm2"), col("norm2")).as("cos"))
          .withColumn("rank", row_number().over(topk))
          .filter(col("rank") <= Q241K)
          .select(col("query_id"), col("rank"), col("vec_id"),
            round(col("cos"), 6).as("cos"))
          .write.mode("overwrite").parquet(s"$out/epoch=$epochId")
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    TempIo.deleteRecursively(ckpt)
    // src is the memoized chunk stage — reclaimed at JVM exit, not here
    TempIo.deleteAtExit(out)
    spark.read.parquet(out)
      .select($"query_id", $"rank", $"vec_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** The drained serve result equals batch IVF (q73's plan) over the
    * streamed query subset — batching must be result-invisible. */
  def q241Sql: String =
    s"""WITH $centroidCtes,
        e AS (
          SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS norm2
          FROM embeddings),
        scoredcells AS (
          SELECT e.vec_id, e.embedding, e.norm2, cent.cell,
            ${dotSql("e.embedding", "cent.c")}
              / sqrt(e.norm2 * ${dotSql("cent.c", "cent.c")}) AS score
          FROM e CROSS JOIN cent),
        assigned AS (
          SELECT vec_id, embedding, norm2, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cell) AS rn
            FROM scoredcells) WHERE rn = 1),
        q AS (
          SELECT cell, vec_id AS query_id, embedding AS q_emb, norm2 AS q_norm2
          FROM assigned WHERE vec_id % $Q241QueryMod = 0),
        scored AS (
          SELECT q.query_id, a.vec_id,
            ${dotSql("q.q_emb", "a.embedding")} / sqrt(q.q_norm2 * a.norm2) AS cos
          FROM assigned a JOIN q USING (cell)
          WHERE a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cos,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
        SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        FROM ranked WHERE rank <= $Q241K ORDER BY query_id, rank"""

  private val Q246Scale = 1048576L // 2^20, the q72 scaled-float grid
  val Q246TopN = 20

  /** q246 — exact covariance structure of the embedding space (the
    * tall-skinny Gram pattern behind PCA / whitening / anisotropy
    * audits): for every dimension pair i ≤ j, the exact integer
    * covariance numerator n·Σsᵢsⱼ − Σsᵢ·Σsⱼ over the q72 scaled-float
    * grid (sᵢ = ⌊vᵢ·2²⁰⌋ — exact in both engines, so the sums are
    * order-free 64-bit arithmetic and no float reduction order can
    * move them). Output: the [[Q246TopN]] strongest off-diagonal
    * couplings — the dimension pairs an isotropic embedding space
    * should NOT have.
    *
    * Scale: ONE pass, NO join on the data — each vector explodes its
    * own d(d+1)/2 products directly (a generator projection), and
    * partial aggregation combines map-side onto the 2080-key Gram
    * frame, so the shuffle is O(d²·partitions) regardless of corpus
    * size; the 64-row marginal frame broadcasts onto it. The d² work
    * per row is inherent to ANY Gram computation; the relational form
    * adds nothing over a BLAS accumulation but parallelizes identically
    * (at extreme d, swap the explode for a mapPartitions local-matrix
    * accumulator emitting one partial triangle per partition). */
  def q246Covariance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // d(d+1)/2 = 2080 products per row: a fan-out stage that must not
    // run behind a one-split scan (Tables.spreadForFanout scaladoc)
    val emb = Tables.spreadForFanout(Tables.embeddings(spark, sfDir))
    val sExpr = (idx: String) =>
      s"CAST(floor(CAST(element_at(embedding, $idx + 1) AS DOUBLE) * $Q246Scale) AS BIGINT)"
    val gram = emb.select(explode(expr(
        s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
              transform(sequence(i, ${Dim - 1}), j ->
                struct(i AS di, j AS dj,
                  ${sExpr("i")} * ${sExpr("j")} AS p))))""")).as("t"))
      .select($"t.di", $"t.dj", $"t.p")
      .groupBy($"di", $"dj")
      .agg(sum($"p").as("sum_p"), count(lit(1)).as("n"),
        max(abs($"p")).as("mxp"))
    val marg = emb
      .select(posexplode($"embedding").as(Seq("dim", "v")))
      .select($"dim", floor($"v".cast("double") * Q246Scale).cast("long").as("s"))
      .groupBy($"dim").agg(sum($"s").as("sum_s"), max(abs($"s")).as("mxs"))
    // Exactness is GUARDED, not assumed (the q386 wedge-budget
    // discipline). Two overflow surfaces, both loud:
    //  1. the Long SUMs themselves — safe iff n·max|term| < 2⁶³ (a
    //     sufficient bound: every partial sum is within it); checked in
    //     doubles with headroom, per Gram cell and per marginal;
    //  2. the n·Σp − Σi·Σj COMBINE — n² -scaled, the first to cross
    //     2⁶³ (the ×100 carve's 200 k vectors are already past it);
    //     computed in DECIMAL(38,0) on this 2080-row frame (exact to
    //     10³⁸, cost nil) and cast back to the gated BIGINT contract
    //     only after a range check.
    //
    // When the corpus genuinely outgrows the BIGINT output —
    // n·Σp ~ n²·E[s²] crosses 2⁶³ near 10⁵ realistic vectors — the
    // refusal is the gated posture, and `spark.graft.q246.widen=true`
    // is the production one: emit cov_num AS the exact DECIMAL(38,0)
    // (good to ~10³⁸, i.e. ~10¹⁴ vectors at this grid) instead of
    // refusing. Opt-in because it changes the output schema — the
    // oracle twin pins the BIGINT contract.
    val widen = spark.conf.get("spark.graft.q246.widen", "false").toBoolean
    val combine = """CAST(n AS DECIMAL(38,0)) * sum_p
                   - CAST(sum_i AS DECIMAL(38,0)) * sum_j"""
    val sumGuard = """CAST(n AS DOUBLE) * CAST(mxp AS DOUBLE) > 4.0e18
            OR CAST(n AS DOUBLE) * CAST(greatest(mxi, mxj) AS DOUBLE) > 4.0e18"""
    val sumErr = """concat('q246: ', n, ' rows with max term ',
            greatest(mxp, mxi, mxj),
            ' may overflow the 64-bit sums; rescale Q246Scale')"""
    val covCol =
      if (widen) expr(s"""
        CASE WHEN $sumGuard
          THEN CAST(raise_error($sumErr) AS DECIMAL(38,0))
          ELSE $combine
        END""")
      else expr(s"""
        CASE WHEN $sumGuard
          THEN CAST(raise_error($sumErr) AS BIGINT)
          ELSE CAST(
            CASE WHEN abs($combine) > 9223372036854775807
              THEN raise_error(concat('q246: cov_num for (', di, ',', dj,
                ') exceeds BIGINT; the gated contract caps the corpus — ',
                'set spark.graft.q246.widen=true for the exact ',
                'DECIMAL(38,0) output'))
              ELSE $combine
            END AS BIGINT)
        END""")
    gram
      .join(broadcast(marg.select($"dim".as("di"), $"sum_s".as("sum_i"),
        $"mxs".as("mxi"))), "di")
      .join(broadcast(marg.select($"dim".as("dj"), $"sum_s".as("sum_j"),
        $"mxs".as("mxj"))), "dj")
      .filter($"di" < $"dj")
      .select($"di", $"dj", covCol.as("cov_num"))
      .orderBy(abs($"cov_num").desc, $"di", $"dj")
      .limit(Q246TopN)
  }

  def q246Sql: String =
    s"""WITH s AS (
          SELECT vec_id, i - 1 AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * $Q246Scale) AS BIGINT) AS s
          FROM (SELECT vec_id, embedding,
                  unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings)),
        gram AS (
          SELECT a.dim AS di, b.dim AS dj,
            sum(a.s * b.s) AS sum_p, count(*) AS n
          FROM s a JOIN s b ON a.vec_id = b.vec_id AND a.dim < b.dim
          GROUP BY 1, 2),
        marg AS (SELECT dim, sum(s) AS sum_s FROM s GROUP BY 1)
        SELECT CAST(g.di AS INT) AS di, CAST(g.dj AS INT) AS dj,
          CAST(g.n * g.sum_p - mi.sum_s * mj.sum_s AS BIGINT) AS cov_num
        FROM gram g
        JOIN marg mi ON mi.dim = g.di
        JOIN marg mj ON mj.dim = g.dj
        ORDER BY abs(g.n * g.sum_p - mi.sum_s * mj.sum_s) DESC, di, dj
        LIMIT $Q246TopN"""

  /** q288 — CONTRASTIVE HARD-NEGATIVE MINING: for every anchor vector,
    * the most-similar DIFFERENT-label vector inside its sign-LSH
    * bucket — the mining step a contrastive/embedding training loop
    * runs per epoch (hard negatives dominate the gradient; random
    * negatives teach nothing). Bucket-scoped by CONTRACT (the same
    * candidate rule as q25's ANN serving, reproduced verbatim by the
    * oracle): production mines hardness within the ANN structure it
    * already maintains, not against the full corpus. Also reports how
    * many negatives the bucket offered — anchors with zero in-bucket
    * negatives surface as absent rows, the signal to widen probes.
    *
    * Scale: bucket-keyed self-join (candidates bounded by bucket
    * population), codegen'd dot products, per-anchor WindowGroupLimit
    * rank — no all-pairs stage. */
  def q288HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planes = lshPlanes(spark, Tables.embeddings(spark, sfDir).count())
    def sides() = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding",
        lshBucket($"embedding", planes).as("bucket"),
        dot($"embedding", $"embedding").as("norm2"))
    val emb = sides()
    // separate scan for the anchor side: distinct attribute ids keep
    // the self-join free of Spark's dedup-rebinding edge cases (the
    // shared-lineage form hit INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under
    // some physical plans)
    val anchors = sides().select($"vec_id".as("anchor_id"),
      $"label".as("a_label"), $"embedding".as("a_emb"), $"bucket",
      $"norm2".as("a_norm2"))
    val negs = candidateJoin(emb, anchors, "bucket")
      .filter($"label" =!= $"a_label")
      .select($"anchor_id", $"a_label", $"vec_id", $"label",
        cosinePre($"a_emb", $"embedding", $"a_norm2", $"norm2").as("cos"))
    val w = Window.partitionBy($"anchor_id").orderBy($"cos".desc, $"vec_id")
    negs
      .withColumn("n_negs", count(lit(1)).over(Window.partitionBy($"anchor_id")))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"anchor_id", $"a_label", $"vec_id".as("hard_neg_id"),
        $"label".as("neg_label"), round($"cos", 6).as("cos"), $"n_negs")
      .orderBy($"anchor_id")
  }

  def q288Sql: String =
    s"""WITH e AS (
          SELECT vec_id, label, embedding,
            ${lshBucketSql("embedding")} AS bucket
          FROM embeddings),
        negs AS (
          SELECT a.vec_id AS anchor_id, a.label AS a_label,
            e.vec_id, e.label,
            ${cosineSql("a.embedding", "e.embedding")} AS cos
          FROM e a JOIN e ON e.bucket = a.bucket AND e.label <> a.label),
        ranked AS (
          SELECT anchor_id, a_label, vec_id, label, cos,
            CAST(count(*) OVER (PARTITION BY anchor_id) AS BIGINT) AS n_negs,
            row_number() OVER (PARTITION BY anchor_id
              ORDER BY cos DESC, vec_id) AS rk
          FROM negs)
        SELECT anchor_id, a_label, vec_id AS hard_neg_id,
          label AS neg_label, round(cos, 6) AS cos, n_negs
        FROM ranked WHERE rk = 1 ORDER BY anchor_id"""

  /** q289 — CONTRASTIVE PAIR-AVAILABILITY MATRIX: per unordered label
    * pair, how many in-bucket candidate pairs the LSH structure offers
    * — the |labels|²-bounded planning table that says whether each
    * class can mine enough negatives from the index alone (an empty
    * off-diagonal cell means that label pair NEVER co-occurs in a
    * bucket, so its hard negatives require cross-bucket probes).
    * Same join as q288; diagonal counts positive (same-label) pairs. */
  def q289PairAvailability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planes = lshPlanes(spark, Tables.embeddings(spark, sfDir).count())
    def side() = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", lshBucket($"embedding", planes).as("bucket"))
    val emb = side()
    val other = side().select($"vec_id".as("o_id"), $"label".as("o_label"),
      $"bucket")
    candidateJoin(emb, other, "bucket")
      .filter($"vec_id" < $"o_id")
      .select(least($"label", $"o_label").as("label_a"),
        greatest($"label", $"o_label").as("label_b"))
      .groupBy($"label_a", $"label_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"label_a", $"label_b")
  }

  def q289Sql: String =
    s"""WITH e AS (
          SELECT vec_id, label, ${lshBucketSql("embedding")} AS bucket
          FROM embeddings)
        SELECT least(a.label, b.label) AS label_a,
          greatest(a.label, b.label) AS label_b,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        GROUP BY 1, 2 ORDER BY label_a, label_b"""
}
