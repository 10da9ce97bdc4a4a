package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, min, timestamp_micros, to_date}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table access layer for the driver-generated parquet tables
  * (`/root/repo/TESTDATA.md`). Schemas come from the parquet footers —
  * explicit `StructType`s would duplicate what the files already declare,
  * and footer reads are one driver round-trip per table.
  *
  * Scale posture: every reader returns the raw scan; queries are expected
  * to `select`/`filter` immediately so Catalyst pushes projection and
  * predicates into the parquet reader (check `PushedFilters`/`ReadSchema`
  * in `.explain("formatted")`). At 100 TB these tables would be
  * Hive-partitioned directories; `spark.read.parquet(root)` + `.where` on
  * partition columns keeps partition pruning optimizer-visible (vs. the
  * reference's hand-built partition path globs,
  * spark-app/src/main/scala/streamingConsumer/consumer.scala:92-107).
  */
object Tables {

  /** A table's LOADED schema, held in [[Memo]], so repeated reads of an
    * unchanged fixture skip per-call footer inference (measured at
    * ~60-90 ms per read; the catalog makes ~2 reads per query × 415
    * queries × ≥2 bench passes, so inference was a minutes-scale
    * per-run tax). Metadata only: every read still scans the parquet
    * files. The entry is bound to the creating session (loaded types
    * can depend on session conf, e.g. nanosAsLong) and to the table's
    * fixture stamp, so a rewritten fixture is inferred again. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    Memo[StructType](spark, s"$name.schema", sfDir, Seq(name)) {
      spark.read.parquet(s"$sfDir/$name.parquet").schema
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  /** Spread a frame that is about to enter a high per-row fan-out /
    * per-row-CPU stage (d²-fold expression fan-outs, blocking joins,
    * shingle explodes) to at least cluster parallelism. AQE sizes
    * partitions by BYTES, so a one-split scan feeding a fan-out stage
    * runs as ONE task no matter how much CPU the stage burns (the q255
    * find: a single-task 2.25M-pair Levenshtein stage behind a 15k-row
    * scan). No-op whenever the input already has enough partitions — a
    * 100 TB table always does, so the exchange only exists in the
    * small-input regime where it is nearly free. */
  def spreadForFanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** Legacy-compat flag for TIMESTAMP(NANOS) fixtures (rounds 1–5
    * shipped events.ts that way; Spark's vectorized reader rejects
    * NANOS footers without it). Kept session-wide because it is
    * idempotent and a NO-OP for every other footer type — the round-6+
    * TIMESTAMP_NTZ(μs) fixtures are unaffected. The ACTUAL encoding
    * decision lives in [[normalizeTs]], which branches on the loaded
    * type; this flag only keeps the legacy encoding loadable at all. */
  def ensureNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  /** Normalize an events frame's `ts` column to session-zoned
    * `TimestampType`, whatever physical encoding the fixture carries.
    * The driver has shipped events.parquet as TIMESTAMP(NANOS)
    * (rounds 1–5; Spark loads it as long under nanosAsLong — data was
    * verified μs-aligned, so `div 1000` is lossless) and as
    * TIMESTAMP(isAdjustedToUTC=false, MICROS) (round 6+; Spark loads
    * it as TimestampNTZType). A 100 TB engine cannot hard-code one
    * producer's physical type, so branch on the LOADED type instead of
    * assuming it; the session timezone is forced to UTC at startup, so
    * the NTZ→TZ cast is a pure re-tag, not a wall-clock shift.
    * Idempotent: TimestampType passes through untouched. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType       => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType  => df
    case other => throw new IllegalStateException(
      s"events.ts has unsupported physical type $other — " +
        "expected TIMESTAMP(NANOS) (long under nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP; " +
        "the fixture contract drifted (see Tables.assertFixtureContract)")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    ensureNanosAsLong(spark)
    normalizeTs(table(spark, sfDir, "events"))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Fixture-contract canary. Round 6 lost 113 queries to a silent
    * physical-encoding change in events.parquet; this turns the next
    * drift into ONE loud, named failure at session start instead of a
    * hundred mysterious ones downstream. Checks, per table: the column
    * set (names) AND every column's loaded Catalyst type against the
    * pinned contract below — a decimal→double or int64→int32 flip in
    * any table fails here by name, not as downstream hash mismatches.
    * Timestamp columns accept the encoding set the readers actually
    * support (the driver has already flipped events.ts once). For a
    * LongType events.ts one sampled value's magnitude disambiguates
    * epoch-nanos from plain int64 micros/millis (they differ by 10^3+;
    * [[normalizeTs]]'s `div 1000` is only lossless for nanos — a
    * silent 1000× shrink is exactly the misread class this canary
    * exists to catch). Footer reads + at most one row. */
  def assertFixtureContract(spark: SparkSession, sfDir: String): Unit = {
    ensureNanosAsLong(spark)
    import org.apache.spark.sql.types._
    val I = IntegerType; val L = LongType; val D = DoubleType; val S = StringType
    // `null` marks a timestamp slot: accepted encodings are checked
    // separately (TIMESTAMP, TIMESTAMP_NTZ, or — events.ts only —
    // nanos-as-long).
    val TS: DataType = null
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region"   -> Seq("r_regionkey" -> I, "r_name" -> S),
      "nation"   -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
      "customer" -> Seq("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
        "c_acctbal" -> D, "c_mktsegment" -> S),
      "supplier" -> Seq("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
        "s_acctbal" -> D),
      "part"     -> Seq("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
        "p_type" -> S, "p_size" -> I, "p_retailprice" -> D),
      "orders"   -> Seq("o_orderkey" -> L, "o_custkey" -> L,
        "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> TS,
        "o_orderpriority" -> S),
      "lineitem" -> Seq("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
        "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
        "l_linestatus" -> S, "l_shipdate" -> TS),
      "events"   -> Seq("event_id" -> L, "ts" -> TS, "user_id" -> L,
        "event_type" -> S, "value" -> D, "props" -> S),
      "documents"  -> Seq("doc_id" -> L, "text" -> S, "lang" -> S,
        "source" -> S, "n_chars" -> L),
      "embeddings" -> Seq("vec_id" -> L,
        "embedding" -> ArrayType(FloatType), "label" -> I))
    def typeOk(name: String, colName: String, want: DataType,
        got: DataType): Boolean = (want, got) match {
      case (null, TimestampType | TimestampNTZType) => true
      // nanos-as-long is an events.ts-only legacy; a long shipdate or
      // orderdate has no reader path and must flag
      case (null, LongType) => name == "events" && colName == "ts"
      case (null, _) => false
      // writers disagree on list-element nullability; element type is
      // the contract
      case (ArrayType(we, _), ArrayType(ge, _)) => we == ge
      case _ => want == got
    }
    val problems = expected.toSeq.sortBy(_._1).flatMap { case (name, cols) =>
      try {
        val schema = table(spark, sfDir, name).schema
        val colNames = cols.map(_._1)
        val missing = colNames.filterNot(schema.fieldNames.contains)
        val extra = schema.fieldNames.filterNot(colNames.contains)
        val colDiff =
          if (missing.isEmpty && extra.isEmpty) Nil
          else Seq(s"$name: column drift — missing=${missing.mkString(",")} " +
            s"unexpected=${extra.mkString(",")}")
        val typeDiff = cols.flatMap { case (c, want) =>
          schema.fieldNames.find(_ == c).toSeq.flatMap { _ =>
            val got = schema(c).dataType
            if (typeOk(name, c, want, got)) Nil
            else Seq(s"$name.$c: type drift — loaded $got, contract pins " +
              (if (want == null) "a supported timestamp encoding" else want.toString))
          }
        }
        val magDiff =
          if (name != "events" || typeDiff.nonEmpty || missing.nonEmpty) Nil
          else if (schema("ts").dataType != LongType) Nil
          else table(spark, sfDir, name).select(col("ts")).head(1).toSeq
            .flatMap { r =>
              val v = math.abs(r.getLong(0))
              // epoch-nanos for any plausible fixture date is ≥ 1e17
              // (~1973); micros/millis are ≤ 1e16 — unambiguous bands
              if (v >= 1e17.toLong) Nil
              else Seq(s"events.ts: long value magnitude $v is not " +
                "epoch-nanos — a plain int64 micros/millis column would be " +
                "silently shrunk 1000x by normalizeTs; pin the new encoding")
            }
        colDiff ++ typeDiff ++ magDiff
      } catch {
        case e: Exception => Seq(s"$name: unreadable — ${e.getMessage}")
      }
    }
    // Value-domain pins: cross-engine integer division (`div` truncates
    // toward zero, DuckDB's `//` floors) agrees only on non-negative
    // operands, and several queries lean on these fixture facts —
    // events.value ≥ 0 (EWMA folds, cents grids) and l_shipdate ≥
    // 1995-01-01 (q251/q257 ship_day = datediff from that epoch). A
    // fixture drift to negative territory must flag HERE, not as an
    // inscrutable hash mismatch. One min() aggregate per table, on the
    // RAW scan (no normalizeTs withColumn, no to_date wrap — either
    // would block pushdown) with parquet aggregate pushdown enabled
    // scoped, so at cluster scale this is genuinely footer-stat reads,
    // not two full column scans at every session start; to_date is
    // applied to the one-row RESULT. If a column's physical type is
    // pushdown-ineligible Spark silently falls back to a column scan —
    // slower, same answer.
    val domainProblems =
      if (problems.nonEmpty) Nil // schema already broken; don't scan
      else {
        // min() over an EMPTY table is NULL — an empty fixture is its own
        // contract drift, and must flag by name here rather than NPE in
        // the getDouble/getDate extraction.
        ensureNanosAsLong(spark) // legacy NANOS footers reject without it
        val (evRow, shipRow) = Scope.run { s =>
          s.conf(spark, "spark.sql.parquet.aggregatePushDown" -> "true")
          (table(spark, sfDir, "events").agg(min(col("value"))).head,
            table(spark, sfDir, "lineitem").agg(min(col("l_shipdate")).as("m"))
              .select(to_date(col("m"))).head)
        }
        (if (evRow.isNullAt(0))
          Seq("events: table is empty — value-domain pins cannot be checked")
        else if (evRow.getDouble(0) < 0.0)
          Seq(s"events.value: min ${evRow.getDouble(0)} < 0 — truncating vs " +
            "flooring integer division diverge; audit every div/`//` site")
        else Nil) ++
        (if (shipRow.isNullAt(0))
          Seq("lineitem: table is empty — value-domain pins cannot be checked")
        else if (shipRow.getDate(0).before(java.sql.Date.valueOf("1995-01-01")))
          Seq(s"lineitem.l_shipdate: min ${shipRow.getDate(0)} precedes " +
            "1995-01-01 — ship_day (q251/q257) goes negative; audit its div sites")
        else Nil)
      }
    val allProblems = problems ++ domainProblems
    if (allProblems.nonEmpty) throw new IllegalStateException(
      "FIXTURE CONTRACT DRIFT at " + sfDir + " — the driver regenerated " +
        "testdata with a different physical schema. Fix the readers " +
        "(Tables.normalizeTs and friends), do NOT chase per-query errors:\n  " +
        allProblems.mkString("\n  "))
  }
}
