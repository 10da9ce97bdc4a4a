package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Near-duplicate detection over `documents` — the training-data-pipeline
  * dedup family: MinHash+LSH, SimHash, and n-gram Jaccard (exact dedup is
  * q19's fingerprint group-by).
  *
  * Cross-engine hash: both Spark and DuckDB expose md5 over strings with
  * identical lowercase-hex output, so "hash" here means hex substrings of
  * md5 compared lexicographically — deterministic and oracle-checkable.
  * (Spark's native `hash`/`xxhash64` would be faster but has no DuckDB
  * twin; swapping it in changes only the hash expression.)
  *
  * Scale posture (100 TB): every op is shuffle-by-signature. MinHash
  * shuffles (band_idx, band_val) — near-dup clusters co-locate, the join
  * per bucket is tiny. SimHash reduces each doc to a 16-bit int grouped by
  * prefix buckets. The all-pairs joins are always bounded: by LSH band
  * buckets, never a global cross join.
  */
object Dedup {

  /** Word 3-gram shingles over a *materialized* token-array column.
    * Callers must project `tokens(text)` into a column first: referencing
    * the split expression directly would re-run the regex split for every
    * `element_at` inside the lambda — O(tokens²) regex work per document
    * (measured 6s of q21's 8s at sf0.1 before this was hoisted).
    * Guarded so docs with <3 tokens yield no shingles (Spark's `sequence`
    * would otherwise generate a descending range, unlike DuckDB's range). */
  private[engine] def shinglesOf(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** SQL mirror of [[shinglesOf]] over DuckDB for any gram width
    * (1-based list indexing, exclusive-end `range`). */
  private[engine] def shinglesSqlN(col: String, n: Int): String = {
    val toks = s"regexp_split_to_array(trim($col), '\\s+')"
    val parts = (0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")
    s"list_transform(range(1, greatest(len($toks) - ${n - 2}, 1)), i -> $parts)"
  }

  private def shinglesSql(col: String): String = shinglesSqlN(col, 3)

  /** MinHash + LSH banding (shingle → minhash → band → bucket-join).
    * 4 minhash components from one md5 per shingle (4 disjoint hex
    * substrings, min taken lexicographically), banded 2×2; candidate
    * pairs are docs sharing ≥1 band bucket, reported with the number of
    * shared bands. */
  /** The full-corpus (doc_id, band_idx, band_val) LSH band frame,
    * localCheckpoint'ed in [[Memo]]: five queries (q21, q67, q130, q145
    * — and every bench pass twice) derive the identical index from the
    * identical corpus; production builds the band index ONCE and serves
    * probes from it, so the engine models exactly that. At real scale
    * the checkpoint becomes a persisted bucketed table (same note as
    * Dedup's shared-derivation checkpoints). */
  private def corpusBands(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "corpusBands", sfDir, Seq("documents")) {
      import spark.implicits._
      // tokenize → shingle-explode → md5 is a ~|tokens|-fold fan-out that
      // must not run behind a one-split scan (Tables.spreadForFanout)
      val sh = Tables.spreadForFanout(Tables.documents(spark, sfDir))
        .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
        .select($"doc_id", explode(shinglesOf($"toks")).as("sh"))
        .select($"doc_id", md5($"sh").as("h"))
      val sig = sh.groupBy($"doc_id").agg(
        min(substring($"h", 1, 8)).as("m0"),
        min(substring($"h", 9, 8)).as("m1"),
        min(substring($"h", 17, 8)).as("m2"),
        min(substring($"h", 25, 8)).as("m3"))
      sig.select($"doc_id",
        explode(map(lit(0), concat($"m0", $"m1"), lit(1), concat($"m2", $"m3")))
          .as(Seq("band_idx", "band_val")))
        .localCheckpoint()
    }

  /** q21's banded candidate pairs WITHOUT the presentation sort —
    * order-insensitive consumers (the q124/q125 candidate graph) read
    * this form so they never pay q21's global ORDER BY exchange. */
  private[engine] def lshPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = corpusBands(spark, sfDir)
    val a = bands.as("a")
    // shuffle-hash (the Similarity.candidateJoin discipline): the
    // band-bucket pair fan-out must parallelize by the key shuffle,
    // never by the probe side's split count
    val b = bands.as("b").hint("shuffle_hash")
    a.join(b,
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
  }

  def q21MinhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lshPairs(spark, sfDir).orderBy($"doc_a", $"doc_b")
  }

  /** The minhash/banding CTE chain, shared by q21's pair listing and
    * q67's recursive component closure over the same pairs. */
  private[engine] def bandCtes: String = {
    val sh = shinglesSql("text")
    s"""sh AS MATERIALIZED (
          SELECT doc_id, md5(unnest($sh)) AS h FROM documents),
        sig AS MATERIALIZED (
          SELECT doc_id,
            min(substr(h, 1, 8)) AS m0, min(substr(h, 9, 8)) AS m1,
            min(substr(h, 17, 8)) AS m2, min(substr(h, 25, 8)) AS m3
          FROM sh GROUP BY doc_id),
        bands AS MATERIALIZED (
          SELECT doc_id, 0 AS band_idx, m0 || m1 AS band_val FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band_idx, m2 || m3 AS band_val FROM sig),
        pairs AS MATERIALIZED (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""
  }

  def q21Sql: String =
    s"""WITH $bandCtes
        SELECT doc_a, doc_b, shared_bands FROM pairs ORDER BY doc_a, doc_b"""

  /** Connected-components canonicalization over the MinHash candidate
    * pairs: every doc in a near-dup cluster maps to the cluster's min
    * doc_id (the keeper; everything else is the drop set). Iterative
    * min-label propagation ("HashMin") — each round every doc takes the
    * min of its own and its neighbors' labels, converging in
    * O(cluster diameter) rounds. This is the one control-flow shape the
    * rest of the engine doesn't use: a driver-side LOOP over fully
    * distributed steps, with localCheckpoint truncating the join lineage
    * each round (at 100 TB the per-round state is one (doc, label) pair
    * per clustered doc — tiny next to the corpus — and candidate pairs
    * come pre-bucketed by LSH, never all-pairs). */
  def q67DedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersFromPairs(spark,
      lshPairs(spark, sfDir).select("doc_a", "doc_b"))

  /** HashMin label propagation over a precomputed candidate-pair frame —
    * split out so callers that also consume the pairs (q145's cross-fold
    * audit) derive them ONCE instead of re-running the LSH pipeline. */
  private[engine] def clustersFromPairs(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .transform(Loops.cut)
    var labels = edges.select($"doc_a".as("doc")).distinct()
      .withColumn("label", $"doc")
      .transform(Loops.cut)
    var changed = 1L
    while (changed > 0) {
      val prop = labels.join(edges, $"doc" === $"doc_a")
        .groupBy($"doc_b")
        .agg(min($"label").as("nlabel"))
        .withColumnRenamed("doc_b", "doc")
      val next = labels.join(prop, Seq("doc"), "left_outer")
        .select($"doc", least($"label", coalesce($"nlabel", $"label")).as("label"))
        .transform(Loops.cut)
      changed = next
        .join(labels.withColumnRenamed("label", "old"), Seq("doc"))
        .filter($"label" < $"old").count()
      labels = next
    }
    labels.select($"doc", $"label".as("canonical")).orderBy($"doc")
  }

  def q67Sql: String =
    s"""WITH RECURSIVE $bandCtes,
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS doc, min(b) AS canonical
        FROM reach GROUP BY a ORDER BY doc"""

  /** Cross-document n-gram contamination: per audited (sampled) doc, the
    * share of its distinct word-8-grams that also appear in at least one
    * OTHER doc anywhere in the corpus — the train/test-overlap measure a
    * contamination audit computes (8-grams via the
    * [[graft.functions.WordShingles]] UDTF). Document frequency is
    * CORPUS-WIDE; only the reporting side is sampled (an audit that
    * counted frequency inside its own sample would miss overlap with the
    * unsampled 90% and report ~zero contamination on a contaminated
    * corpus). A shingle is "shared" for doc d when some other doc also
    * has it: corpus df >= 2. Shares are exact integer divisions,
    * bit-portable without rounding. Scale posture: one shuffle on the
    * shingle for corpus df, one back on doc_id — both pre-reduced by the
    * per-doc distinct; the audited side prunes to the sample before the
    * join. */
  def q71Contamination(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val allSh = Tables.documents(spark, sfDir)
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
      .select($"doc_id", graft.functions.Generators.wordShingles($"toks", 8))
      .select($"doc_id", $"shingle")
      .distinct()
    val docFreq = allSh.groupBy($"shingle").agg(countDistinct($"doc_id").as("nd"))
    allSh.filter($"doc_id" % 10 === 0)
      .join(docFreq, "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when($"nd" >= 2, 1)).as("n_shared"))
      .withColumn("shared_share", $"n_shared".cast("double") / $"n_shingles")
      .orderBy($"doc_id")
  }

  def q71Sql: String =
    s"""WITH s AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSqlN("text", 8)}) AS shingle
          FROM documents),
        nd AS (SELECT shingle, count(DISTINCT doc_id) AS nd FROM s GROUP BY shingle)
        SELECT doc_id, count(*) AS n_shingles,
          count(*) FILTER (WHERE nd >= 2) AS n_shared,
          CAST(count(*) FILTER (WHERE nd >= 2) AS DOUBLE) / count(*) AS shared_share
        FROM s JOIN nd USING (shingle)
        WHERE doc_id % 10 = 0
        GROUP BY doc_id ORDER BY doc_id"""

  /** SimHash: 16-bit signature per document. Bit j is the sign of the
    * vote sum over tokens, where each token votes ±1 from the parity of
    * the ASCII CODE of hex character j of its md5 (not the hex digit's
    * numeric parity — '0'..'9' and 'a'..'f' still split 8/8, so the
    * vote stays balanced, and both engines share the ascii()-based
    * expression). Near-dups differ in few bits (compare with
    * hamming ≤ k via xor+bit_count downstream). */
  def q22Simhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("t"))
      .select($"doc_id", md5($"t").as("h"))
    val votes = (0 until 16).map { j =>
      sum(when(ascii(substring($"h", j + 1, 1)) % 2 === 1, 1).otherwise(-1))
        .as(s"v$j")
    }
    val sig = tok.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
    val simhash = (0 until 16)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    sig.select($"doc_id", simhash.as("simhash"))
      .orderBy($"doc_id")
  }

  def q22Sql: String = {
    val votes = (0 until 16).map(j =>
      s"sum(CASE WHEN ascii(substr(h, ${j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val bits = (0 until 16)
      .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
          SELECT doc_id, md5(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS h
          FROM documents),
        sig AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sig ORDER BY doc_id"""
  }

  /** Shingle statistics through the native UDTF
    * ([[graft.functions.WordShingles]], a custom Catalyst `Generator`):
    * per sampled doc, total and distinct word-3-gram counts. Exercises
    * the table-valued extension point end-to-end against the same
    * list-expression oracle the lambda-based shingler uses — the UDTF
    * streams rows out of eval instead of materializing the shingle
    * array column. */
  def q62ShingleUdtf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
      .select($"doc_id", graft.functions.Generators.wordShingles($"toks", 3))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"), countDistinct($"shingle").as("n_distinct"))
      .orderBy($"doc_id")
  }

  def q62Sql: String =
    s"""WITH s AS (
          SELECT doc_id, unnest(${shinglesSql("text")}) AS sh
          FROM documents WHERE doc_id % 10 = 0)
        SELECT doc_id, count(*) AS n_shingles, count(DISTINCT sh) AS n_distinct
        FROM s GROUP BY doc_id ORDER BY doc_id"""

  /** n-gram Jaccard similarity on a deterministic 5% document sample:
    * distinct word-3-gram sets, bucket-join on shared shingles, Jaccard =
    * |A∩B| / |A∪B| for every candidate pair (pairs sharing ≥1 shingle —
    * the bucket join itself is the candidate filter; a threshold would sit
    * on top in a production near-dup pass).
    *
    * Stop-shingles are pruned first: a shingle in more than
    * [[MaxShingleDf]] docs leaves the shingle space (sets AND
    * intersections — standard near-dup practice), because one
    * boilerplate n-gram shared by k docs would otherwise emit O(k²)
    * join rows; the cap is what keeps this bucket join bounded at 100 TB
    * (on the test corpus max df is single-digit, so the cap changes
    * nothing — verified by the unchanged oracle hashes). */
  val MaxShingleDf = 100L
  def q23NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 20 === 0)
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
      .select($"doc_id", explode(shinglesOf($"toks")).as("sh"))
      .distinct()
    val keep = raw.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" <= MaxShingleDf)
      .select($"sh")
    val sample = raw.join(keep, "sh")
    val sizes = sample.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sample.as("a")
      .join(sample.as("b").hint("shuffle_hash"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sizes.as("sb"), $"doc_b" === $"sb.doc_id")
      .select($"doc_a", $"doc_b",
        round($"inter" / ($"sa.n" + $"sb.n" - $"inter"), 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  def q23Sql: String = {
    val sh = shinglesSql("text")
    s"""WITH raw AS (
          SELECT DISTINCT doc_id, unnest($sh) AS sh
          FROM documents WHERE doc_id % 20 = 0),
        keep AS (SELECT sh FROM raw GROUP BY sh HAVING count(*) <= $MaxShingleDf),
        sample AS (SELECT doc_id, raw.sh FROM raw JOIN keep ON raw.sh = keep.sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM sample GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sample a JOIN sample b
            ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        ORDER BY doc_a, doc_b"""
  }

  /** Edit-distance near-dup: Levenshtein over a 40-char prefix on a 10%
    * doc sample, paired within source. Complements the set-based
    * detectors (MinHash/SimHash/Jaccard are order-blind over shingles;
    * edit distance catches character-level mutations that preserve the
    * shingle set poorly and vice versa). Prefix cap bounds the O(m·n)
    * DP per pair; pairing within `source` is the blocking key that
    * keeps the candidate set linear-ish — at 100 TB the same blocked
    * self-join shape holds with a finer block (e.g. source × length
    * band), exactly like the LSH band-bucket join in q21. */
  def q79EditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sample = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 10 === 0)
      .select($"source", $"doc_id", substring($"text", 1, 40).as("prefix"))
    sample.as("a")
      .join(sample.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      // threshold form: banded DP, O(threshold·n) per pair with early
      // exit, returning -1 above the bound — exact distances for every
      // surviving pair, so the thresholdless oracle is unchanged
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.prefix", $"b.prefix", 20).as("dist"))
      .filter($"dist" >= 0)
      .orderBy($"doc_a", $"doc_b")
  }

  def q79Sql: String =
    """WITH sample AS (
         SELECT source, doc_id, substr(text, 1, 40) AS prefix
         FROM documents WHERE doc_id % 10 = 0),
       scored AS MATERIALIZED (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.prefix, b.prefix) AS dist
         FROM sample a JOIN sample b
           ON a.source = b.source AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, dist FROM scored
       WHERE dist <= 20 ORDER BY doc_a, doc_b"""

  /** Bloom-prefiltered decontamination: flag every training document
    * (doc_id % 50 ≠ 0) sharing an 8-gram with the held-out eval slice
    * (doc_id % 50 = 0). The bloom filter over the eval shingle hashes
    * ([[graft.functions.BloomFunctions]] — Spark's own sketch
    * expressions, surfaced) prunes the train shingle stream BEFORE the
    * shuffle join; the exact join afterwards kills bloom false
    * positives, so the output is exact regardless of bloom error (a
    * false negative is impossible). Scale: this is the asymmetric-join
    * play — the eval side is ~10^6 shingles even for a large eval
    * suite (bloom ~MBs, one broadcastable literal) while the train side
    * is the 100 TB corpus; post-bloom, only the ~contaminated sliver
    * pays the shuffle. Size `expectedItems` to the build-side
    * cardinality estimate — an undersized filter stays correct but
    * stops pruning (fpp climbs toward 1). */
  def q91BloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // NO distinct on the raw stream: a pre-bloom distinct would shuffle
    // the full 100 TB shingle stream — the exact cost the bloom exists
    // to avoid. The bloom prunes straight off the generator output
    // (scan → explode → filter, zero shuffles); the terminal
    // countDistinct absorbs within-doc duplicate shingles.
    val sh = Tables.documents(spark, sfDir)
      .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
      .select($"doc_id", graft.functions.Generators.wordShingles($"toks", 8))
      .select($"doc_id", $"shingle")
    val evalSh = sh.filter($"doc_id" % 50 === 0).distinct()
    val bloom = graft.functions.BloomFunctions.buildBloom(
      evalSh, $"shingle", expectedItems = 100000L)
    sh.filter($"doc_id" % 50 =!= 0)
      .filter(graft.functions.BloomFunctions.bloomMightContain(
        bloom, xxhash64($"shingle")))
      .join(evalSh.select($"shingle", $"doc_id".as("eval_doc")), "shingle")
      .groupBy($"doc_id")
      .agg(countDistinct($"shingle").as("n_contaminated"),
        countDistinct($"eval_doc").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  def q91Sql: String =
    s"""WITH s AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSqlN("text", 8)}) AS shingle
          FROM documents),
        e AS (SELECT doc_id AS eval_doc, shingle FROM s WHERE doc_id % 50 = 0),
        t AS (SELECT doc_id, shingle FROM s WHERE doc_id % 50 <> 0)
        SELECT t.doc_id,
          count(DISTINCT t.shingle) AS n_contaminated,
          count(DISTINCT e.eval_doc) AS n_eval_docs
        FROM t JOIN e ON t.shingle = e.shingle
        GROUP BY t.doc_id ORDER BY t.doc_id"""

  /** Prefix-filtering EXACT set-similarity join (AllPairs/PPJoin family):
    * every pair of docs whose distinct-3-gram-shingle sets have
    * Jaccard ≥ 1/2, with no false negatives — the exact complement of
    * the probabilistic detectors (q21 MinHash banding can miss, q25/q73
    * ANN approximate). The blocking lemma: order every set by one GLOBAL
    * token order (rarest-first, shingle text tiebreak) and take each
    * set's first |S| − ⌈τ·|S|⌉ + 1 elements; any pair with J ≥ τ MUST
    * share a prefix element. Rarest-first makes prefixes low-frequency,
    * so the candidate join fans out near-linearly instead of
    * quadratically — the scale path LSH gets by sacrificing exactness.
    * Candidates then prune by the length bound (2·min ≥ max, else
    * J < 1/2 is impossible) and verify by exact intersection counts:
    * J ≥ 1/2 ⟺ 3·|A∩B| ≥ |A| + |B| — all 64-bit integer arithmetic;
    * the reported jaccard is one exact division.
    *
    * Scale: shuffles are keyed by shingle (freq + candidate join) and by
    * doc (sets + verification) — no all-pairs stage anywhere; the
    * verification join touches only candidate pairs. */
  /** Distinct (doc_id, shingle) pairs, materialized once — the shared
    * input of q102's prefix filter and the q102/q132 exact-Jaccard
    * verification (at 100 TB: persist to reliable storage instead of
    * executor-local blocks). */
  // Memoized like corpusBands: q102, q132, q239
  // and q265 all derive the identical frames from the identical corpus,
  // and the bench runs each twice — production materializes the shingle
  // index once and every consumer reads it.
  private def distinctShingles(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "distinctShingles", sfDir, Seq("documents")) {
      import spark.implicits._
      // shingle explode behind a one-split scan would tokenize the
      // whole corpus in one task (Tables.spreadForFanout scaladoc)
      Tables.spreadForFanout(Tables.documents(spark, sfDir))
        .select($"doc_id", TextFunctions.tokens($"text").as("toks"))
        .select($"doc_id", explode(shinglesOf($"toks")).as("sh"))
        .distinct()
        .localCheckpoint()
    }

  /** Corpus shingle document frequency (sh → #docs), MEMOIZED like its
    * input [[distinctShingles]]: q102's prefix filter, q239's
    * rarest-element blocking and [[exactTruthPairs600]] all need the
    * identical frame (rarest-first ordering is what makes prefix
    * blocking near-linear), and bench runs each consumer twice —
    * production materializes the frequency index once next to the
    * shingle index. */
  private def shingleFreq(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "shingleFreq", sfDir, Seq("documents")) {
      import spark.implicits._
      distinctShingles(spark, sfDir)
        .groupBy($"sh").agg(count(lit(1)).as("df"))
        .localCheckpoint()
    }

  /** Per-doc SORTED shingle sets over [[distinctShingles]] — the
    * ground-truth frame q102's verification, q132's precision audit,
    * q239's containment check and the truth-pair builders consume (one
    * definition, so the recall and precision sides of the pairing can
    * never diverge).
    *
    * Elements are 64-bit xxhash64 FINGERPRINTS of the shingles, not
    * the strings: verification attaches a set to every surviving
    * candidate PAIR, so at corpus scale the set payload rides a
    * per-pair shuffle — hashed sets cut those bytes ~3× and the merge
    * loop compares longs instead of UTF8 (~10×). Intersection COUNTS
    * are unchanged: distinct shingles map 1:1 to distinct fingerprints
    * (a 64-bit collision inside one doc's ~50-element set is ~1e-17
    * per doc, and the oracle gate would fail loudly on one). Purely an
    * engine representation — every oracle still counts shared shingle
    * STRINGS. */
  private[engine] def shingleFp(sh: Column): Column = xxhash64(sh)
  private def docShingleSets(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "docShingleSets", sfDir, Seq("documents")) {
      import spark.implicits._
      distinctShingles(spark, sfDir).groupBy($"doc_id")
        .agg(sort_array(collect_set(shingleFp($"sh"))).as("set"))
        .localCheckpoint()
    }

  def q102PrefixSimJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // checkpointed once: four consumers below (freq, both prefix join
    // sides, both verification sides) would otherwise each re-derive
    // the scan → Generate → distinct chain
    val sh = distinctShingles(spark, sfDir)
    val freq = shingleFreq(spark, sfDir)
    val byDoc = Window.partitionBy($"doc_id")
    val ordered = sh.join(freq, "sh")
      .withColumn("pos", row_number().over(byDoc.orderBy($"df", $"sh")))
      .withColumn("sz", count(lit(1)).over(byDoc))
    // prefix length for τ = 1/2: |S| − ⌈|S|/2⌉ + 1 = ⌊|S|/2⌋ + 1
    val prefix = ordered.filter($"pos" <= $"sz" / 2 + 1)
      .select($"doc_id", $"sh", $"sz")
      .localCheckpoint()
    // Verification INSIDE the prefix join (the Vernica–Carey–Li
    // set-similarity kernel, VLDB'10): each posting entry carries its
    // doc's full fingerprint set, so the intersect-count and the
    // τ-filter run map-side in the join stage and only NARROW
    // survivor rows ever leave it. The r12 form verified after a
    // pair-level distinct — attaching both sets to every candidate
    // PAIR — which shuffled |pairs|·2|set| bytes: ~43 GB at the ×100
    // carve's 5.0e7 candidates, all spill (measured 205 s, flat under
    // both the join-parallelism fix and hashed sets, because the
    // bytes, not the compares, were the bound). Sets-on-postings
    // shuffles |posting|·|set| once (~6 GB there) and re-verifies the
    // ~1.4 duplicate candidates per pair instead — long-merge compares
    // far cheaper than their pair-distinct. Survivors (true near-dups,
    // ~linear in the corpus) dedup as narrow rows.
    // shuffle-hash, not size-based planning: this is a candidate join
    // (the Similarity.candidateJoin discipline) — pair fan-out through
    // the posting-list key must parallelize by the shuffle, never by
    // the probe side's split count, and the per-key groups (max df ~
    // hundreds) need no sort to enumerate.
    val docSets = docShingleSets(spark, sfDir)
    val posting = prefix.join(docSets, "doc_id")
    posting.as("a").join(posting.as("b").hint("shuffle_hash"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id" &&
          least($"a.sz", $"b.sz") * 2 >= greatest($"a.sz", $"b.sz"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.sz".as("sz_a"), $"b.sz".as("sz_b"),
        graft.functions.VectorExpressions.sorted_intersect_count(
          $"a.set", $"b.set").as("n_common"))
      .filter($"n_common" * 3 >= $"sz_a" + $"sz_b")
      .select($"doc_a", $"doc_b", $"n_common",
        ($"sz_a" + $"sz_b" - $"n_common").as("n_union"),
        round($"n_common".cast("double") / ($"sz_a" + $"sz_b" - $"n_common"), 6)
          .as("jaccard"))
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Oracle is the brute-force join over the same shingle sets (shared-
    * element blocking, then the identical integer threshold) — the
    * prefix filter must be result-invisible. */
  def q102Sql: String =
    s"""WITH s AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql("text")}) AS sh
          FROM documents),
        sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
        i AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
          sa.n + sb.n - n_common AS n_union,
          round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
            AS jaccard
        FROM i
        JOIN sz sa ON i.doc_a = sa.doc_id
        JOIN sz sb ON i.doc_b = sb.doc_id
        WHERE 3 * n_common >= sa.n + sb.n
        ORDER BY doc_a, doc_b"""

  /** EXACT near-dup ground truth at τ = 600‰ (3-shingle Jaccard ≥ 3/5)
    * — the truth side of q390's blocking audit and q393's cross-modal
    * agreement, routed through the SAME prefix-filter machinery as
    * q102 instead of the unfiltered `g === g` shingle self-join both
    * queries originally ran (a quadratic blowup on any hot shingle).
    * The AllPairs/PPJoin lemma with per-set prefix length
    * |S| − ⌈τ·|S|⌉ + 1 under one global rarest-first order yields the
    * IDENTICAL pair set: any pair with J ≥ τ must share a prefix
    * element, so candidates → exact verification loses nothing. For
    * τ = 3/5 the integer forms are: prefix length
    * sz − (3·sz + 4) div 5 + 1, length bound 5·min ≥ 3·max (J ≥ 3/5
    * forces i ≥ (3/8)(sa+sb) ≤ min), and the verification
    * 8·i ≥ 3·(sa+sb) ⟺ the oracle's (1000·i) div (sa+sb−i) ≥ 600.
    * Inputs come from the memoized shingle frames
    * ([[distinctShingles]]/[[docShingleSets]]); the result is itself
    * memoized + localCheckpoint'ed because q390 and q393 both consume
    * it with multi-action tails (and bench runs each twice). */
  private[graft] def exactTruthPairs600(spark: SparkSession, sfDir: String): DataFrame =
    Memo[DataFrame](spark, "exactTruthPairs600", sfDir, Seq("documents")) {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val sh = distinctShingles(spark, sfDir)
      val freq = shingleFreq(spark, sfDir)
      val byDoc = Window.partitionBy($"doc_id")
      val ordered = sh.join(freq, "sh")
        .withColumn("pos", row_number().over(byDoc.orderBy($"df", $"sh")))
        .withColumn("sz", count(lit(1)).over(byDoc))
      val prefix = ordered
        .filter($"pos" <= $"sz" - expr("(3 * sz + 4) div 5") + 1)
        .select($"doc_id", $"sh", $"sz")
        .localCheckpoint()
      val cand = prefix.as("a")
        .join(prefix.as("b").hint("shuffle_hash"),
          $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id" &&
            least($"a.sz", $"b.sz") * 5 >= greatest($"a.sz", $"b.sz") * 3)
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
          $"a.sz".as("sa"), $"b.sz".as("sb"))
        .distinct()
      val docSets = docShingleSets(spark, sfDir)
      cand
        .join(docSets.select($"doc_id".as("da"), $"set".as("set_a")), "da")
        .join(docSets.select($"doc_id".as("db"), $"set".as("set_b")), "db")
        .withColumn("i",
          graft.functions.VectorExpressions.sorted_intersect_count(
            $"set_a", $"set_b"))
        .filter($"i" * 8 >= ($"sa" + $"sb") * 3)
        .select($"da", $"db")
        .localCheckpoint()
    }

  /** Train/test leakage audit: the q21 MinHash near-dup candidate pairs
    * crossed with q80's deterministic md5 split assignment — every
    * (split, split) cell counts near-dup pairs landing in it. Off-
    * diagonal cells with split(test/val) on one side are contamination:
    * a test doc with a train-side near-duplicate inflates eval. This is
    * the audit run BEFORE freezing a split (dedup-then-split); the
    * composition costs one broadcast-able map-side join over the
    * already-computed pair list. */
  def q104SplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucket = substring(md5($"doc_id".cast("string")), 1, 2)
    val splits = Tables.documents(spark, sfDir)
      .select($"doc_id",
        when(bucket < "cd", "train")
          .when(bucket < "e7", "val")
          .otherwise("test").as("split"))
    val pairs = lshPairs(spark, sfDir).select($"doc_a", $"doc_b")
    pairs
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"),
        count(when($"split_a" =!= $"split_b", 1)).as("n_leaks"))
      .orderBy($"split_a", $"split_b")
  }

  def q104Sql: String =
    s"""WITH $bandCtes,
        sp AS (
          SELECT doc_id, CASE
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e7' THEN 'val'
            ELSE 'test' END AS split
          FROM documents)
        SELECT sa.split AS split_a, sb.split AS split_b,
          count(*) AS n_pairs,
          count(*) FILTER (WHERE sa.split <> sb.split) AS n_leaks
        FROM pairs
        JOIN sp sa ON pairs.doc_a = sa.doc_id
        JOIN sp sb ON pairs.doc_b = sb.doc_id
        GROUP BY 1, 2 ORDER BY split_a, split_b"""

  /** k-hop reach in the near-dup candidate graph via a NATIVE recursive
    * CTE (Spark 4's `WITH RECURSIVE`) — per doc, how many distinct other
    * docs are within 3 undirected hops of it over q21's LSH pairs. q67
    * answers "which cluster" with a driver-side loop; this answers "how
    * locally dense" with the recursion pushed into the engine itself
    * (UnionLoop iterates inside one query execution, no driver round-
    * trips or localCheckpoints).
    *
    * Spark's recursion supports UNION ALL only (no in-recursion dedup),
    * so termination comes from the explicit depth < 3 bound and dedup
    * happens once in the final count(DISTINCT …) — path counts in a
    * clique of size c grow as c³, bounded because LSH clusters are
    * near-dup groups, not arbitrary graphs (the same property q67's
    * convergence relies on). Scale: each iteration is one distributed
    * join of the frontier against the (tiny, doubly-listed) edge set. */
  def q119KhopReach(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    // materialize the pair list ONCE: the recursion references the view
    // in its anchor and in every UnionLoop iteration, and a lazy view
    // would re-run the whole LSH pipeline per iteration (measured 4.6s
    // -> ~1s at sf0.1). The pair list is tiny post-banding, so it also
    // collapses to one partition for the per-iteration joins.
    lshPairs(spark, sfDir).select("doc_a", "doc_b")
      .coalesce(1).localCheckpoint()
      .createOrReplaceTempView("graft_neardup_pairs")
    // The depth-3 walk enumeration is linear in corpus size with a
    // max-clique-degree³ constant (near-dup clusters are small by
    // construction), but Spark's default cteRecursionRowLimit (10⁶)
    // is a fixture-scale artifact — the ×10 carve legitimately
    // enumerates more walks than that. Raised for this call only, to a
    // bound that still catches a runaway recursion long before memory
    // does.
    s.conf(spark, "spark.sql.cteRecursionRowLimit" -> "1000000000")
    // evaluate INSIDE the conf scope (a lazy result would run under the
    // restored limit), and distributed — the result is one row per doc,
    // data-scale, so it goes through scratch parquet, not the driver
    val reach = spark.sql(
      """WITH RECURSIVE reach(seed, node, depth) AS (
           SELECT doc, doc, 0 FROM (
             SELECT DISTINCT doc_a AS doc FROM graft_neardup_pairs
             UNION
             SELECT doc_b FROM graft_neardup_pairs) seeds
           UNION ALL
           SELECT r.seed, e.b, r.depth + 1
           FROM reach r
           JOIN (SELECT doc_a AS a, doc_b AS b FROM graft_neardup_pairs
                 UNION ALL
                 SELECT doc_b, doc_a FROM graft_neardup_pairs) e
             ON r.node = e.a
           WHERE r.depth < 3)
         SELECT seed AS doc, count(DISTINCT node) - 1 AS n_reach3
         FROM reach GROUP BY seed ORDER BY doc""")
    val dir = s.resultDir("graft-q119-")
    reach.write.mode("overwrite").parquet(dir)
    // re-pin the output order: parquet readback owes no row order
    spark.read.parquet(dir).orderBy("doc")
  }

  def q119Sql: String =
    s"""WITH RECURSIVE $bandCtes,
        seeds AS (
          SELECT DISTINCT doc_a AS doc FROM pairs
          UNION
          SELECT doc_b FROM pairs),
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(seed, node, depth) AS (
          SELECT doc, doc, 0 FROM seeds
          UNION ALL
          SELECT r.seed, e.b, r.depth + 1
          FROM reach r JOIN edges e ON r.node = e.a
          WHERE r.depth < 3)
        SELECT seed AS doc, count(DISTINCT node) - 1 AS n_reach3
        FROM reach GROUP BY seed ORDER BY doc"""

  /** LSH detector PRECISION audit: q21's candidate pairs judged against
    * exact ground truth — per shared-band count, how many candidates
    * are true near-dups (shingle Jaccard ≥ ½, decided by the integer
    * test 3·∩ ≥ |A|+|B|, no float threshold). This is the measurement
    * that tunes the band/row trade: more shared bands should mean
    * higher precision, and the audit quantifies exactly how much —
    * the recall side is q102's exact join (which the prefix filter
    * makes complete by construction).
    *
    * Scale: candidates come pre-blocked from LSH (never all-pairs);
    * ground truth per candidate costs one broadcast of the per-doc
    * sorted shingle sets and a codegen'd merge-intersect per pair
    * (q102's verification machinery). */
  def q132LshPrecision(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cand = lshPairs(spark, sfDir)
    val sets = docShingleSets(spark, sfDir)
    val judged = cand
      .join(sets.select($"doc_id".as("doc_a"), $"set".as("set_a")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"set".as("set_b")), "doc_b")
      .withColumn("n_common",
        graft.functions.VectorExpressions.sorted_intersect_count($"set_a", $"set_b"))
      .withColumn("is_true",
        $"n_common" * 3 >= size($"set_a") + size($"set_b"))
    judged.groupBy($"shared_bands")
      .agg(count(lit(1)).as("n_candidates"),
        count(when($"is_true", 1)).as("n_true"),
        round(count(when($"is_true", 1)).cast("double") / count(lit(1)), 6)
          .as("prec"))
      .orderBy($"shared_bands")
  }

  def q132Sql: String =
    s"""WITH $bandCtes,
        s AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql("text")}) AS sh
          FROM documents),
        sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
        i AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT p.shared_bands, count(*) AS n_candidates,
          count(*) FILTER (WHERE 3 * coalesce(i.n_common, 0) >= sa.n + sb.n)
            AS n_true,
          round(CAST(count(*) FILTER
              (WHERE 3 * coalesce(i.n_common, 0) >= sa.n + sb.n) AS DOUBLE)
            / count(*), 6) AS prec
        FROM pairs p
        LEFT JOIN i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
        JOIN sz sa ON p.doc_a = sa.doc_id
        JOIN sz sb ON p.doc_b = sb.doc_id
        GROUP BY p.shared_bands ORDER BY p.shared_bands"""

  /** Dedup SUPPRESSION — the step that actually edits the corpus: every
    * clustered document except its cluster's canonical (min doc_id,
    * q67's label) is dropped; unclustered documents pass through. The
    * per-source audit (total / kept / dropped and the exact token
    * count removed) is what a curation run reports before committing
    * the drop set — detect (q21) → cluster (q67) → suppress (this)
    * completes the dedup lifecycle.
    *
    * Scale: the drop set is |clustered docs| rows — small next to the
    * corpus, but Θ(dup-rate · corpus), so it is NOT hand-pinned as a
    * broadcast: AQE broadcasts it into the one corpus scan while it
    * fits (every gate SF) and key-partitions the join when a 100 TB
    * corpus's drop set outgrows an executor. Token counting rides the
    * same scan either way (no second pass). */
  def q130DedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val drops = q67DedupClusters(spark, sfDir)
      .filter($"doc" =!= $"canonical")
      .select($"doc".as("drop_id"))
    Tables.documents(spark, sfDir)
      .select($"source", $"doc_id",
        size(TextFunctions.tokens($"text")).as("n_tokens"))
      .join(drops, $"doc_id" === $"drop_id", "left_outer")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"drop_id").as("n_dropped"),
        (count(lit(1)) - count($"drop_id")).as("n_kept"),
        sum(when($"drop_id".isNotNull, $"n_tokens").otherwise(0L))
          .as("tokens_dropped"))
      .orderBy($"source")
  }

  def q130Sql: String =
    s"""WITH RECURSIVE $bandCtes,
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS MATERIALIZED (
          SELECT a AS doc, min(b) AS canonical FROM reach GROUP BY a),
        drops AS (SELECT doc FROM labels WHERE doc <> canonical)
        SELECT d.source, count(*) AS n_docs,
          count(dr.doc) AS n_dropped,
          count(*) - count(dr.doc) AS n_kept,
          CAST(coalesce(sum(CASE WHEN dr.doc IS NOT NULL
            THEN len(regexp_split_to_array(trim(d.text), '\\s+')) END), 0)
            AS BIGINT) AS tokens_dropped
        FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc
        GROUP BY d.source ORDER BY d.source"""

  val GroupedFolds = 5

  /** Cluster-aware (leakage-free) K-fold split: fold assignment is a
    * function of the doc's near-dup CLUSTER canonical (q67), not the
    * doc id — every member of a cluster lands in the same fold, so no
    * near-duplicate pair can straddle a train/eval boundary. This is
    * the split q104's leakage audit demands: q80 splits by doc and
    * AUDITS the contamination; this splits by cluster and PREVENTS it.
    *
    * `cross_fold_pairs` is computed for real (every q21 candidate pair
    * joined against both endpoints' folds), not asserted as a literal —
    * its guaranteed zero is the query's correctness claim, and any
    * regression in the cluster labeling breaks the gate visibly.
    *
    * Fold = canonical % K on this corpus's uniform synthetic ids
    * (q139's bucket argument); skewed production ids hash the
    * canonical first. Scale: labels and pairs are the small post-LSH
    * frames, but BOTH grow with the corpus (Θ(clustered docs)), and
    * foldOf is one row per document outright — so no join here pins a
    * broadcast side by hand. AQE's runtime size check broadcasts the
    * genuinely-small side while it fits (labels/pairs at every gate
    * SF) and key-partitions when it doesn't; in particular the
    * cross-fold audit's small side is PAIRS, not the corpus-sized
    * foldOf a static hint would have frozen in. */
  def q145GroupedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the pair frame feeds BOTH the clustering and the cross-fold audit:
    // checkpoint it once so the LSH pipeline (shingle/md5/band) runs once
    val pairs = lshPairs(spark, sfDir)
      .select($"doc_a", $"doc_b").localCheckpoint()
    val labels = clustersFromPairs(spark, pairs)
    val folded = Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("wc"))
      .join(labels, $"doc_id" === $"doc", "left_outer")
      .select($"doc_id", $"wc",
        coalesce($"canonical", $"doc_id").as("canonical"))
      .withColumn("fold", $"canonical" % GroupedFolds)
    val perFold = folded.groupBy($"fold")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"canonical").as("n_clusters"),
        sum($"wc").as("n_tokens"))
    val foldOf = folded.select($"doc_id", $"fold")
    val crossFold = pairs
      .join(foldOf.select($"doc_id".as("doc_a"), $"fold".as("fold_a")),
        "doc_a")
      .join(foldOf.select($"doc_id".as("doc_b"), $"fold".as("fold_b")),
        "doc_b")
      .filter($"fold_a" =!= $"fold_b")
      .groupBy($"fold_a".as("fold"))
      .agg(count(lit(1)).as("xf"))
    perFold.join(crossFold, Seq("fold"), "left_outer")
      .select($"fold", $"n_docs", $"n_clusters", $"n_tokens",
        coalesce($"xf", lit(0L)).as("cross_fold_pairs"))
      .orderBy($"fold")
  }

  def q145Sql: String =
    s"""WITH RECURSIVE $bandCtes,
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS MATERIALIZED (
          SELECT a AS doc, min(b) AS canonical FROM reach GROUP BY a),
        folded AS MATERIALIZED (
          SELECT d.doc_id,
            len(regexp_split_to_array(trim(d.text), '\\s+')) AS wc,
            coalesce(l.canonical, d.doc_id) % $GroupedFolds AS fold
          FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
        xf AS (
          SELECT fa.fold AS fold, count(*) AS xf
          FROM pairs p
          JOIN folded fa ON p.doc_a = fa.doc_id
          JOIN folded fb ON p.doc_b = fb.doc_id
          WHERE fa.fold <> fb.fold
          GROUP BY fa.fold)
        SELECT f.fold, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT coalesce(l.canonical, f.doc_id)) AS BIGINT) AS n_clusters,
          CAST(sum(f.wc) AS BIGINT) AS n_tokens,
          CAST(coalesce(any_value(xf.xf), 0) AS BIGINT) AS cross_fold_pairs
        FROM folded f
        LEFT JOIN labels l ON f.doc_id = l.doc
        LEFT JOIN xf ON f.fold = xf.fold
        GROUP BY f.fold ORDER BY f.fold"""

  /** Batch-arrival predicate for the incremental-assignment split:
    * every 10th document (mod-class 7) "arrives later" and must be
    * assigned against the index built from the rest. */
  private val NewDocPred = "doc_id % 10 = 7"

  /** q231 — INCREMENTAL near-dup cluster assignment: the production
    * form of dedup, where the corpus is already indexed and clustered
    * (q21's bands + q67's canonical labels over the 90% "index" split)
    * and a NEW batch (the held-out 10%) must be folded in without
    * reclustering the world. Each new doc probes the index's band
    * buckets; ≥1 hit assigns it the MINIMUM canonical among matched
    * index docs (deterministic merge policy — min-label, the same
    * total order q67 uses), zero hits opens a new cluster keyed by the
    * doc itself. Output per new doc: assigned canonical, how many
    * index docs its bands hit, and whether it opened a new cluster.
    *
    * Scale posture (100 TB): the index bands are a (band_idx,
    * band_val)-bucketed table built ONCE; a batch probes it with one
    * equi join on the bucket key — candidates only, never a scan of
    * the corpus, and the batch never joins itself (intra-batch dups
    * resolve on the NEXT index rebuild, the standard eventual-
    * consistency contract of incremental dedup). */
  def q231IncrementalAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(expr(NewDocPred))
    // band values are per-doc functions of the text, so the subset
    // index is a FILTER of the memoized corpus band frame — the cached
    // index serves both sides of the probe
    val idxBands = corpusBands(spark, sfDir).filter(!expr(NewDocPred))
    val a = idxBands.as("a")
    val b = idxBands.as("b").hint("shuffle_hash")
    val idxPairs = a.join(b,
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    val labels = clustersFromPairs(spark, idxPairs)
      .select($"doc".as("idx_doc"), $"canonical")
    val matches = corpusBands(spark, sfDir).filter(expr(NewDocPred))
      .select($"doc_id".as("new_doc"), $"band_idx", $"band_val")
      .join(idxBands.select($"doc_id".as("idx_doc"), $"band_idx", $"band_val"),
        Seq("band_idx", "band_val"))
      .select($"new_doc", $"idx_doc").distinct()
      .join(labels, Seq("idx_doc"), "left")
      .select($"new_doc", $"idx_doc",
        coalesce($"canonical", $"idx_doc").as("cl"))
    val assigned = matches.groupBy($"new_doc")
      .agg(min($"cl").as("assigned"),
        count(lit(1)).as("n_index_matches"))
    batch.select($"doc_id")
      .join(assigned, $"doc_id" === $"new_doc", "left")
      .select($"doc_id",
        coalesce($"assigned", $"doc_id").as("canonical"),
        coalesce($"n_index_matches", lit(0L)).as("n_index_matches"),
        when($"assigned".isNull, 1L).otherwise(0L).as("opened_cluster"))
      .orderBy($"doc_id")
  }

  /** q234 — QUALITY-AWARE retention policy: which copy of a near-dup
    * cluster to KEEP. q67/q130 keep the min doc_id (stable but
    * arbitrary); a production pipeline keeps the best-quality member.
    * For every multi-member cluster this emits both keepers side by
    * side with their quality scores and the per-cluster quality gain
    * of choosing by quality — the table that justifies (or kills) the
    * policy switch. Argmax is deterministic: quality rides as an exact
    * 6-dp integer (the decimal-cast discipline of [[Exact.cents]]) in
    * a composite (quality, −doc_id) scalar key, so float ties cannot
    * diverge engines.
    *
    * Scale: scoring is one map over cluster members only (clusters
    * come from the cached band index via q67's propagation); both
    * argmaxes are ONE map-side-combining aggregate over |members|
    * rows. */
  def q234RetentionPolicy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val labels = q67DedupClusters(spark, sfDir)
    val quality = Tables.documents(spark, sfDir)
      .select($"doc_id", TextFunctions.qualityScore($"text").as("q"))
    val scored = labels.join(quality, $"doc" === $"doc_id")
      .select($"canonical".as("cluster"), $"doc", $"q",
        ($"q".cast("decimal(10,6)") * 1000000).cast("long").as("qi"))
    val picked = scored.groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        max_by($"doc", $"qi" * 100000000L - $"doc").as("keep_quality"),
        max_by($"q", $"qi" * 100000000L - $"doc").as("q_quality"),
        min($"doc").as("keep_minid"))
      .filter($"n_members" >= 2)
    val qMin = scored
      .select($"cluster", $"doc".as("keep_minid"), $"q".as("q_minid"))
    picked.join(qMin, Seq("cluster", "keep_minid"))
      .select($"cluster", $"n_members", $"keep_quality", $"q_quality",
        $"keep_minid", $"q_minid",
        round($"q_quality" - $"q_minid", 6).as("q_gain"))
      .orderBy($"cluster")
  }

  def q234Sql: String = {
    val qs = TextFunctions.qualityScoreSql("text")
    s"""WITH RECURSIVE $bandCtes,
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS MATERIALIZED (
          SELECT a AS doc, min(b) AS canonical FROM reach GROUP BY a),
        quality AS MATERIALIZED (
          SELECT doc_id, $qs AS q FROM documents),
        scored AS MATERIALIZED (
          SELECT l.canonical AS cluster, l.doc, qu.q,
            CAST(CAST(qu.q AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS qi
          FROM labels l JOIN quality qu ON qu.doc_id = l.doc),
        picked AS (
          SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
            max_by(doc, qi * 100000000 - doc) AS keep_quality,
            max_by(q, qi * 100000000 - doc) AS q_quality,
            min(doc) AS keep_minid
          FROM scored GROUP BY cluster HAVING count(*) >= 2)
        SELECT p.cluster, p.n_members, p.keep_quality, p.q_quality,
          p.keep_minid, s.q AS q_minid,
          round(p.q_quality - s.q, 6) AS q_gain
        FROM picked p
        JOIN scored s ON s.cluster = p.cluster AND s.doc = p.keep_minid
        ORDER BY p.cluster"""
  }

  def q231Sql: String = {
    val sh = shinglesSql("text")
    s"""WITH RECURSIVE
        shi AS (
          SELECT doc_id, md5(unnest($sh)) AS h
          FROM documents WHERE NOT ($NewDocPred)),
        sigi AS (
          SELECT doc_id,
            min(substr(h, 1, 8)) AS m0, min(substr(h, 9, 8)) AS m1,
            min(substr(h, 17, 8)) AS m2, min(substr(h, 25, 8)) AS m3
          FROM shi GROUP BY doc_id),
        bandsi AS (
          SELECT doc_id, 0 AS band_idx, m0 || m1 AS band_val FROM sigi
          UNION ALL
          SELECT doc_id, 1 AS band_idx, m2 || m3 AS band_val FROM sigi),
        pairsi AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bandsi a JOIN bandsi b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id),
        edges AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM pairsi
          UNION ALL
          SELECT doc_b, doc_a FROM pairsi),
        reach AS (
          SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS MATERIALIZED (
          SELECT a AS idx_doc, min(b) AS canonical FROM reach GROUP BY a),
        shb AS (
          SELECT doc_id, md5(unnest($sh)) AS h
          FROM documents WHERE $NewDocPred),
        sigb AS (
          SELECT doc_id,
            min(substr(h, 1, 8)) AS m0, min(substr(h, 9, 8)) AS m1,
            min(substr(h, 17, 8)) AS m2, min(substr(h, 25, 8)) AS m3
          FROM shb GROUP BY doc_id),
        bandsb AS (
          SELECT doc_id, 0 AS band_idx, m0 || m1 AS band_val FROM sigb
          UNION ALL
          SELECT doc_id, 1 AS band_idx, m2 || m3 AS band_val FROM sigb),
        matches AS (
          SELECT DISTINCT nb.doc_id AS new_doc, ib.doc_id AS idx_doc
          FROM bandsb nb JOIN bandsi ib
            ON nb.band_idx = ib.band_idx AND nb.band_val = ib.band_val),
        assigned AS (
          SELECT m.new_doc,
            min(coalesce(l.canonical, m.idx_doc)) AS assigned,
            CAST(count(*) AS BIGINT) AS n_index_matches
          FROM matches m LEFT JOIN labels l ON l.idx_doc = m.idx_doc
          GROUP BY m.new_doc)
        SELECT d.doc_id,
          coalesce(a.assigned, d.doc_id) AS canonical,
          coalesce(a.n_index_matches, 0) AS n_index_matches,
          CAST(CASE WHEN a.assigned IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS opened_cluster
        FROM documents d LEFT JOIN assigned a ON a.new_doc = d.doc_id
        WHERE $NewDocPred
        ORDER BY d.doc_id"""
  }

  val Q239ProbeMod = 101
  val Q239PassageLen = 5

  /** q239 — containment (superset) search: each PROBE passage — the
    * first [[Q239PassageLen]] word-3-gram shingles of every
    * doc_id % [[Q239ProbeMod]] == 0 document — is matched against every
    * corpus document whose shingle set CONTAINS the whole passage
    * (containment |Q∩D| = |Q|, the quote-detection / verbatim-
    * contamination primitive; Jaccard can be tiny when a short quote
    * sits inside a long host, which is exactly why q21/q102 similarity
    * thresholds cannot find it). Exact, via the containment form of the
    * prefix-filter lemma: under ANY global token order, a superset of Q
    * must contain Q's globally-RAREST element, so candidates are only
    * the documents posting that one rarest shingle (rarest-first makes
    * the posting list minimal) and verification is one codegen'd
    * sorted-merge intersect per candidate. Each probe's own document
    * always appears (self-containment) — the built-in sanity row.
    *
    * Scale: the candidate join is keyed by the rarest shingle against
    * the (doc_id, shingle) posting frame (never all-pairs), and
    * verification touches candidates only; the set fetch is
    * doc_id-keyed. NO join in this query carries a broadcast hint: the
    * probe-key frame is Θ(corpus/101) rows — small at every gate SF
    * but unboundedly growing, so a hand-pinned broadcast is a latent
    * driver OOM at full scale — and the sets frame is corpus-sized
    * outright. AQE's runtime size check reproduces the broadcast
    * exactly while each side fits (BroadcastPostureSpec pins the
    * gate-SF conversion; the ×10 carve measured hash-identical at
    * timing parity with the old pinned form) and degrades to a
    * key-partitioned shuffle when it no longer does, which is the
    * posture that holds at 100 TB. */
  def q239ContainmentJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sh = distinctShingles(spark, sfDir)
    val freq = shingleFreq(spark, sfDir)
    // The passage's first K shingles are the shingles of the first
    // K+2 tokens — shingle the TOKEN slice, never slice the full
    // shingle array: CollapseProject inlines the tokens(text) regex
    // into the transform lambda, and a full-document shingle build
    // re-runs the split per element_at — O(tokens²) regex per probe
    // doc (measured 7.8 s of q239's 9 s at sf0.1; the 7-element slice
    // makes the inlining harmless).
    val probes = Tables.documents(spark, sfDir)
      .filter($"doc_id" % Q239ProbeMod === 0)
      .select($"doc_id".as("probe_id"), TextFunctions.tokens($"text").as("toks"))
      .select($"probe_id",
        sort_array(array_distinct(
          shinglesOf(slice($"toks", 1, Q239PassageLen + 2)))).as("qshingles"))
      .filter(size($"qshingles") > 0)
      .withColumn("qsize", size($"qshingles").cast("long"))
      // verification set in the docShingleSets representation (hashed
      // fingerprints, re-sorted — fingerprint order ≠ string order)
      .withColumn("qset",
        sort_array(transform($"qshingles", sh => shingleFp(sh))))
    val probeKeys = probes
      .select($"probe_id", $"qsize", $"qset", explode($"qshingles").as("sh"))
      .join(freq, "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"probe_id").orderBy($"df", $"sh")))
      .filter($"rk" === 1)
      .select($"sh", $"probe_id", $"qsize", $"qset")
    val cand = sh.join(probeKeys, "sh")
      .select($"probe_id", $"qsize", $"qset", $"doc_id")
    val docSets = docShingleSets(spark, sfDir)
    cand.join(docSets, "doc_id")
      .withColumn("n_common",
        graft.functions.VectorExpressions.sorted_intersect_count(
          $"qset", $"set"))
      .filter($"n_common" === $"qsize")
      .select($"probe_id", $"doc_id", $"qsize")
      .orderBy($"probe_id", $"doc_id")
  }

  /** Oracle = brute force: every (probe shingle, doc shingle) equality
    * match, grouped, kept when the match count covers the passage —
    * the rarest-element blocking must be result-invisible. */
  def q239Sql: String =
    s"""WITH s AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql("text")}) AS sh
          FROM documents),
        q AS (
          SELECT doc_id AS probe_id,
            list_sort(list_distinct(
              list_slice(${shinglesSql("text")}, 1, $Q239PassageLen))) AS qlist
          FROM documents WHERE doc_id % $Q239ProbeMod = 0),
        qx AS (
          SELECT probe_id, len(qlist) AS qsize, unnest(qlist) AS sh
          FROM q WHERE len(qlist) > 0),
        hits AS (
          SELECT qx.probe_id, s.doc_id, qx.qsize, count(*) AS n_common
          FROM qx JOIN s ON qx.sh = s.sh
          GROUP BY 1, 2, 3)
        SELECT probe_id, doc_id, CAST(qsize AS BIGINT) AS qsize
        FROM hits WHERE n_common = qsize
        ORDER BY probe_id, doc_id"""

  /** The q265 threshold ladder (Jaccard, permille). */
  val RoiThresholds: Seq[Int] = Seq(100, 800, 930, 960, 985)

  /** q265 — DEDUP ROI CURVE: how much corpus does each near-dup
    * aggressiveness setting delete? For every threshold τ in
    * [[RoiThresholds]], report the documents and characters removed
    * under the PAIRWISE-CANONICAL policy (drop any doc that has a
    * more-canonical — lower doc_id — neighbor with exact Jaccard ≥ τ;
    * the cheap upper bound on q67's cluster dedup that curation teams
    * sweep before committing to a threshold). The pipeline: q21's LSH
    * band candidates → EXACT verification per candidate (codegen
    * sorted-merge intersect over the shared shingle-set frame;
    * jaccard on the integer permille grid: inter·1000 div union) →
    * per-doc max-over-neighbors → ONE 5-counter aggregate (thresholds
    * nest, so the whole curve is conditional sums over max_jacc).
    *
    * Result-completeness caveat, stated: candidates are LSH candidates
    * (2 bands × 2 minhashes), so pairs the bands miss are absent for
    * EVERY τ — the curve prices the dedup the deployed LSH pipeline
    * would actually perform (q132 audits that recall separately).
    * Scale: band self-join keyed by band value, verification touches
    * candidates only, final aggregate is 5 counters. */
  def q265DedupRoi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cand = lshPairs(spark, sfDir).select($"doc_a", $"doc_b")
    val sh = distinctShingles(spark, sfDir)
    val sets = docShingleSets(spark, sfDir)
    val verified = cand
      .join(sets.select($"doc_id".as("doc_a"), $"set".as("sa")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"set".as("sb")), "doc_b")
      .withColumn("inter",
        graft.functions.VectorExpressions.sorted_intersect_count($"sa", $"sb"))
      .withColumn("jpm", expr(
        "inter * 1000 div (size(sa) + size(sb) - inter)"))
      .select($"doc_b".as("doc_id"), $"jpm")
    val perDoc = verified.groupBy($"doc_id").agg(max($"jpm").as("max_jpm"))
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"n_chars"),
        "doc_id")
    val counters = RoiThresholds.flatMap { t =>
      Seq(sum(when($"max_jpm" >= t, 1L).otherwise(0L)).as(s"n$t"),
        coalesce(sum(when($"max_jpm" >= t, $"n_chars")), lit(0L)).as(s"c$t"))
    }
    val tot = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars_all"))
    perDoc.agg(counters.head, counters.tail: _*)
      .crossJoin(broadcast(tot))
      .select(inline(array(RoiThresholds.map { t =>
        struct(lit(t).as("tau_permille"),
          col(s"n$t").as("docs_removed"),
          col(s"c$t").as("chars_removed"),
          expr(s"c$t * 1000000 div n_chars_all").as("share_ppm"))
      }: _*)))
      .orderBy($"tau_permille")
  }

  def q265Sql: String = {
    val branches = RoiThresholds.map { t =>
      s"""SELECT $t AS tau_permille,
            CAST(coalesce(sum(CASE WHEN max_jpm >= $t THEN 1 END), 0) AS BIGINT)
              AS docs_removed,
            CAST(coalesce(sum(CASE WHEN max_jpm >= $t THEN n_chars END), 0)
              AS BIGINT) AS chars_removed,
            CAST(coalesce(sum(CASE WHEN max_jpm >= $t THEN n_chars END), 0)
              AS BIGINT) * 1000000
              // (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
              AS share_ppm
          FROM perdoc"""
    }
    s"""WITH $bandCtes,
        sh2 AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql("text")}) AS s
          FROM documents),
        sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh2 GROUP BY 1),
        inter AS (
          SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
          FROM pairs p
          JOIN sh2 a ON a.doc_id = p.doc_a
          JOIN sh2 b ON b.doc_id = p.doc_b AND a.s = b.s
          GROUP BY 1, 2),
        jacc AS (
          SELECT p.doc_b AS doc_id,
            coalesce(i.i, 0) * 1000 // (za.n + zb.n - coalesce(i.i, 0)) AS jpm
          FROM pairs p
          LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          JOIN sz za ON za.doc_id = p.doc_a
          JOIN sz zb ON zb.doc_id = p.doc_b),
        perdoc AS (
          SELECT j.doc_id, max(j.jpm) AS max_jpm, first(d.n_chars) AS n_chars
          FROM jacc j JOIN documents d ON d.doc_id = j.doc_id
          GROUP BY j.doc_id)
        ${branches.mkString("\n UNION ALL \n")}
        ORDER BY tau_permille"""
  }

  /** q279 hamming threshold and band layout: with [[PhashBands]]
    * bands, pigeonhole makes banding EXACT for tau < bands — a pair
    * within Hamming distance 3 cannot differ in all 4 bands, so at
    * least one band matches verbatim and the pair is guaranteed a
    * candidate. No probabilistic recall caveat (q21's bands trade
    * recall; these don't at this tau). */
  val PhashTau = 3
  val PhashBits = 60
  private val PhashBands = 4
  private val PhashBandBits = PhashBits / PhashBands // 15

  /** Per-bit SimHash vote terms: bit j of a token's md5 (hex digit
    * j/4, bit j%4 — 60 of the 128 digest bits) votes +1/-1; the
    * signature sets bit j iff the doc's vote sum is positive. Shared text between the engine and the oracle. */
  private def simhash60Votes(j: Int): (String, String) = {
    val pos = j / 4 + 1
    val sub = j % 4
    val bit = s"((instr('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $sub) & 1"
    (bit, s"sum(CASE WHEN $bit = 1 THEN 1 ELSE -1 END)")
  }

  /** q279 — SIMHASH BANDED NEAR-DUP JOIN: the pairing half q22 leaves
    * open (q22 computes SimHash signatures; nothing joined them). Each
    * document gets a 60-bit SimHash over its token md5s (60 bits, not
    * 64, so every shifted bit stays inside signed int64 in BOTH
    * engines — DuckDB raises on 1<<63); the self-join runs on 4 x
    * 15-bit LSH bands of the signature and verifies candidates with
    * one codegen'd `bit_count(^)`. At [[PhashTau]] = 3 < 4 bands the
    * blocking is EXACT by pigeonhole — the reported pair set is
    * identical to the all-pairs scan's, at banded cost. On this
    * corpus the tau=3 pair set closely tracks the exact-Jaccard >= 0.5
    * set (q102), which is SimHash doing its job: Hamming on the
    * signature approximates cosine on the token profile.
    *
    * Scale: one token-keyed aggregate builds signatures; shuffles are
    * keyed by (band_idx, band_val); verify touches candidate pairs
    * only — the same posture as the MinHash/prefix families. */
  /** The 60-bit signature frame (doc_id, sh) — package-visible so the
    * wave spec can brute-force all pairs and prove the banding
    * result-invisible. */
  private[graft] def simhash60Signatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // tokenize + per-token md5 + 60 vote expressions: a fan-out stage
    // that must not run behind a one-split scan (Tables.spreadForFanout)
    val tok = Tables.spreadForFanout(Tables.documents(spark, sfDir))
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("t"))
      .select($"doc_id", md5($"t").as("h"))
    val votes = (0 until PhashBits).map { j =>
      expr(simhash60Votes(j)._2).as(s"v$j")
    }
    tok.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
      .select($"doc_id",
        (0 until PhashBits)
          .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sh"))
  }

  def q279SimhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sig = simhash60Signatures(spark, sfDir)
    val bands = sig.select($"doc_id", $"sh",
        explode(expr(s"transform(sequence(0, ${PhashBands - 1}), i ->" +
          s" struct(i AS bi, shiftright(sh, i * $PhashBandBits)" +
          s" & ${(1 << PhashBandBits) - 1} AS bv))")).as("b"))
      .select($"doc_id", $"sh", $"b.bi", $"b.bv")
    val a = bands.as("a")
    // shuffle-hash (the Similarity.candidateJoin discipline): banded
    // candidate fan-out must parallelize by the key shuffle, never by
    // the probe side's split count
    val b = bands.as("b").hint("shuffle_hash")
    a.join(b, $"a.bi" === $"b.bi" && $"a.bv" === $"b.bv" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= PhashTau)
      .orderBy($"doc_a", $"doc_b")
  }

  def q279Sql: String = {
    val bits = (0 until PhashBits).map { j =>
      s"CASE WHEN ${simhash60Votes(j)._2} > 0 THEN (1::BIGINT << $j) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (
          SELECT doc_id,
            md5(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS h
          FROM documents),
        sig AS (SELECT doc_id, $bits AS sh FROM tok GROUP BY doc_id),
        bands AS (
          SELECT doc_id, sh, i AS bi,
            (sh >> (i * $PhashBandBits)) & ${(1 << PhashBandBits) - 1} AS bv
          FROM sig CROSS JOIN (SELECT unnest(range(0, $PhashBands)) AS i)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
          FROM bands a JOIN bands b
            ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM cand
        WHERE hamming <= $PhashTau
        ORDER BY doc_a, doc_b"""
  }

  /** q281 — CROSS-SOURCE DUPLICATION FLOW MATRIX: the curation view of
    * the near-dup pair set — per unordered source pair, how many
    * MinHash-banded candidate pairs bridge them (diagonal =
    * within-source duplication). This is the table a mixture owner
    * reads to find which sources scrape which: a heavy off-diagonal
    * cell means the two feeds share provenance and their mixture
    * weights double-count (q100/q264's inputs assume independence).
    * Reuses q21's memoized band index; the matrix is |sources|²-
    * bounded, so everything after the pair join is a tiny aggregate.
    *
    * Scale: identical to q21 (band-keyed shuffle) + one broadcastable
    * doc→source join per side. */
  def q281DupFlowMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lshPairs(spark, sfDir).select($"doc_a", $"doc_b")
    val src = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("src_a"),
        greatest($"sa", $"sb").as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"src_a", $"src_b")
  }

  def q281Sql: String =
    s"""WITH $bandCtes,
        m AS (
          SELECT least(da.source, db.source) AS src_a,
                 greatest(da.source, db.source) AS src_b
          FROM pairs p
          JOIN documents da ON da.doc_id = p.doc_a
          JOIN documents db ON db.doc_id = p.doc_b)
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
        FROM m GROUP BY 1, 2 ORDER BY src_a, src_b"""
}
