package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serialization / source-format surface beyond parquet.
  *
  * Scale note: the round-trips here are correctness demonstrations; at
  * 100 TB the same writers run partitioned (`partitionBy`) with sized
  * output files (`spark.sql.files.maxRecordsPerFile`), and columnar
  * formats (parquet/ORC) are the only sane at-rest choice — CSV/JSON
  * exist for interchange edges (the reference's Kafka values are JSON,
  * S8/P1).
  */
object Formats {

  /** S8+P1 closed loop: encode each event to a Kafka-shaped JSON `value`
    * with to_json(struct(...)), parse it back with from_json, and verify
    * the fields survive — output is the parsed projection, oracle is the
    * plain projection (round-trip identity). */
  def q48JsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    Tables.events(spark, sfDir)
      .select(to_json(struct($"event_id", $"event_type", $"value")).as("payload"))
      .select(from_json($"payload", schema).as("p"))
      .select($"p.event_id".as("event_id"), $"p.event_type".as("event_type"),
        $"p.value".as("value"))
      .orderBy($"event_id")
  }

  def q48Sql: String =
    """SELECT event_id, event_type, value FROM events ORDER BY event_id"""

  /** Multi-format sink/source: write an events projection as ORC, CSV,
    * and JSON-lines, read each back, and count — one row per format, all
    * equal to the source count. Exercises the non-parquet readers/writers
    * end-to-end (schemas carried explicitly for the text formats). A
    * deterministic 5% slice keeps the triple write/read proportional to a
    * format check, not a full re-ingest — writer coverage is identical. */
  def q49FormatsRoundtrip(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val base = Tables.events(spark, sfDir)
      .filter($"event_id" % 20 === 0)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val dir = s.dir("graft-formats-")
    base.write.mode("overwrite").orc(s"$dir/orc")
    base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    base.write.mode("overwrite").json(s"$dir/json")
    // the counts force the reads, so the scratch dir can go with the scope
    Seq(
      "csv" -> spark.read.option("header", "true").schema(base.schema).csv(s"$dir/csv").count(),
      "json" -> spark.read.schema(base.schema).json(s"$dir/json").count(),
      "orc" -> spark.read.orc(s"$dir/orc").count())
      .toDF("format", "counts").orderBy($"format")
  }

  def q49Sql: String =
    """SELECT f.format,
       (SELECT count(*) FROM events WHERE event_id % 20 = 0) AS counts
       FROM (VALUES ('csv'), ('json'), ('orc')) f(format)
       ORDER BY f.format"""

  /** Hidden `_metadata` file columns — per-file lineage audit (rows,
    * event_id extents, non-zero size) straight from the scan, the
    * provenance surface a corpus snapshot needs to map every row back
    * to its source file without a path-parsing UDF or a second listing
    * job. The reference hand-builds partition paths and globs them back
    * (consumer.scala:92-107); `_metadata.file_name` is the engine-native
    * inverse. The oracle pins the expected lineage (single-file tables
    * here, so the name is a constant and size positivity is a literal
    * `true`); at scale the same query audits thousands of files per
    * partition with file-level pruning intact.
    *
    * Scale: metadata columns are populated by the reader per split —
    * no extra I/O, no shuffle beyond the audit's own aggregate. */
  def q129FileMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("fsize"),
        $"event_id")
      .groupBy($"file_name")
      .agg(count(lit(1)).as("counts"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"),
        (min($"fsize") > 0L).as("nonzero_size"))
      .orderBy($"file_name")
  }

  def q129Sql: String =
    """SELECT 'events.parquet' AS file_name, count(*) AS counts,
       min(event_id) AS min_id, max(event_id) AS max_id,
       true AS nonzero_size
       FROM events GROUP BY 1 ORDER BY file_name"""

  /** q186 — `binaryFile` ingestion: raw blob files (one per document
    * here; images/audio/model shards in production) read through
    * Spark's binary source, which carries (path, length, content) per
    * file — the entry point of every multimodal pipeline before the
    * q30/q85 decode plumbing. Each blob's identity is re-derived from
    * the BYTES (md5 + length) and reconciled per source against the
    * documents table — proving the filesystem round-trip preserved
    * every payload bit. A deterministic 1-in-7 slice keeps the
    * file-per-row fixture proportional; `pathGlobFilter` and
    * per-partition writers are the production knobs (one row per FILE
    * means small-file pressure is the scale risk — blobs ride
    * manifests or tar shards at 100 TB, exactly why q81's packing
    * exists). */
  def q186BinarySource(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val docs = Multimodal.withPayload(
      Tables.documents(spark, sfDir).filter($"doc_id" % 7 === 0))
      .select($"doc_id", $"source", $"payload")
    val dir = s.dir("graft-blob-")
    // Executor-side fixture write: payload bytes never cross the driver
    // (local[*] shares the filesystem; on a cluster `dir` would be a
    // shared store and this same foreachPartition writes per-executor).
    docs.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach { r =>
        Files.write(java.nio.file.Paths.get(
          s"$dir/${r.getAs[String]("source")}_${r.getAs[Long]("doc_id")}.bin"),
        r.getAs[Array[Byte]]("payload"))
      }
    }
    val result = spark.read.format("binaryFile").load(dir)
      .select(regexp_extract(
        element_at(split($"path", "/"), -1),
        "^(.*)_\\d+\\.bin$", 1).as("source"),
        $"length", md5($"content").as("digest"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_files"), sum($"length").as("total_bytes"),
        countDistinct($"digest").as("n_digests"))
      .orderBy($"source")
    TempIo.materialize(spark, result)
  }

  // octet_length(encode(..)) keeps the contract byte-exact — binaryFile's
  // `length` is UTF-8 octets, not characters, so a multibyte corpus would
  // break a length(text)-based oracle without touching the engine.
  def q186Sql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_digests
       FROM documents WHERE doc_id % 7 = 0
       GROUP BY 1 ORDER BY source"""

  /** q187 — `text` source round-trip: documents written as one line per
    * row (the interchange shape of every raw text corpus: WET files,
    * one-doc-per-line dumps) and read back through the line-oriented
    * reader, proving content survives byte-for-byte via per-source
    * line counts and byte sums. `wholetext` and `lineSep` are the
    * production variants; compression (`codec`) rides the same writer.
    * Both sides count OCTETS (octet_length / encode) so the contract is
    * byte-exact, not ASCII-dependent; the one-line-per-doc layout (no
    * embedded newlines in `text`) is a fixture contract asserted by
    * FormatsWave25Spec. */
  def q187TextSource(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-text-")
    Tables.documents(spark, sfDir)
      .select($"text").write.mode("overwrite").text(dir)
    val lines = spark.read.text(dir)
    val result = lines
      .select(octet_length($"value").as("n_bytes"))
      .agg(count(lit(1)).as("n_lines"), sum($"n_bytes").as("n_bytes"),
        countDistinct($"n_bytes").as("n_lengths"))
    TempIo.materialize(spark, result)
  }

  def q187Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
       CAST(count(DISTINCT octet_length(encode(text))) AS BIGINT) AS n_lengths
       FROM documents"""

  /** q188 — `from_csv`/`to_csv` expression surface: the STRING-level
    * CSV codec (q48 is its JSON twin) — each event row serialized to
    * one CSV line and parsed back with an explicit schema, proving the
    * codec inverts including the quoting of free-text fields. This is
    * the Kafka-value escape hatch when upstream emits CSV rather than
    * JSON; schema-carrying parse (never inference) is the contract. */
  def q188CsvExpr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("props", StringType)))
    Tables.events(spark, sfDir)
      .select(to_csv(struct($"event_id", $"event_type", $"props")).as("line"))
      .select(from_csv($"line", schema,
        Map.empty[String, String]).as("p"))
      .select($"p.event_id".as("event_id"), $"p.event_type".as("event_type"),
        $"p.props".as("props"))
      .orderBy($"event_id")
  }

  def q188Sql: String =
    """SELECT event_id, event_type, props FROM events ORDER BY event_id"""

  /** q189 — dynamic partition overwrite: the lakehouse backfill verb.
    * An events projection lands date-partitioned; ONE day is then
    * re-written (here: its value column doubled — a recompute) with
    * `partitionOverwriteMode=dynamic`, which replaces ONLY the
    * partitions present in the incoming frame and leaves every other
    * day's files untouched — the difference between "backfill Tuesday"
    * and "rewrite the table" at 100 TB. STATIC mode (the default)
    * would have truncated all 30 days first; the read-back aggregate
    * proves exactly one day changed and all others survived. */
  def q189DynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-dyn-")
    val base = Tables.events(spark, sfDir)
      .select($"event_id", date_format($"ts", "yyyy-MM-dd").as("date"),
        Exact.cents($"value").as("cents"))
    base.write.mode("overwrite").partitionBy("date").parquet(dir)
    val day = base.agg(min($"date")).head().getString(0)
    s.conf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
    base.filter($"date" === day)
      .withColumn("cents", $"cents" * 2L)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    // partition-column type inference reads `date=` back as DATE; pin
    // the string form so the contract matches the writer's input
    val result = spark.read.parquet(dir)
      .withColumn("date", $"date".cast("string"))
      .groupBy($"date")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
      .withColumn("overwritten", $"date" === day)
      .orderBy($"date")
    TempIo.materialize(spark, result)
  }

  def q189Sql: String =
    """WITH d AS (SELECT min(strftime(ts, '%Y-%m-%d')) AS day FROM events)
       SELECT strftime(ts, '%Y-%m-%d') AS date,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
           * (CASE WHEN strftime(ts, '%Y-%m-%d') = day THEN 2 ELSE 1 END)
           AS BIGINT) AS cents,
         strftime(ts, '%Y-%m-%d') = day AS overwritten
       FROM events CROSS JOIN d
       GROUP BY strftime(ts, '%Y-%m-%d'), day
       ORDER BY date"""

  /** q245 — SCHEMA EVOLUTION on read (`mergeSchema`): half the corpus
    * lands as v1 files (event_id, event_type, value), the other half as
    * v2 files carrying an added `hv` column — the column-added-mid-
    * -stream shape every long-lived dataset accumulates. One
    * `mergeSchema=true` read unifies the directory: v2 rows carry hv,
    * v1 rows backfill NULL (schema-on-read null semantics, never a
    * default). The audit reports, per event type, total rows, rows that
    * carry the new column, and its sum — proving old files keep
    * reading and new-column aggregates skip the nulls.
    *
    * Scale: mergeSchema reconciles footers across ALL files at plan
    * time — fine for a roundtrip check, a metadata storm at a million
    * files; production pins the evolved schema in a metastore/Delta log
    * and hands it to the reader (`.schema(...)`), which this read path
    * degrades to verbatim. The write is the real cost here and stays
    * proportional to the slice. */
  def q245SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val dir = s.dir("graft-evolve-")
    val ev = Tables.events(spark, sfDir)
    ev.filter($"event_id" % 2 === 0)
      .select($"event_id", $"event_type", $"value")
      .write.mode("overwrite").parquet(s"$dir/v1")
    ev.filter($"event_id" % 2 === 1)
      .select($"event_id", $"event_type", $"value",
        ($"user_id" % 16).as("hv"))
      .write.mode("overwrite").parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    TempIo.materialize(spark,
      merged.groupBy($"event_type")
        .agg(count(lit(1)).as("n_total"),
          count($"hv").as("n_with_hv"),
          coalesce(sum($"hv"), lit(0L)).as("sum_hv"),
          Exact.sumExact($"value", 2).as("sum_value"))
        .orderBy($"event_type"))
  }

  /** The merged read must equal computing the v2 column directly with
    * v1 rows masked to NULL. */
  def q245Sql: String =
    """SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
           AS n_with_hv,
         CAST(COALESCE(sum(CASE WHEN event_id % 2 = 1
           THEN user_id % 16 END), 0) AS BIGINT) AS sum_hv,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0
           AS sum_value
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** q268 — XML SOURCE ROUNDTRIP: Spark 4 folded the spark-xml
    * connector into core; this exercises it the q49/q63 way — write a
    * projection of events as `<event>` rows, read it back through the
    * XML reader WITH a declared schema (inference would widen
    * everything to strings), and aggregate the read-back rows. The
    * oracle aggregates the original table, so the gate asserts the
    * roundtrip is LOSSLESS: Java's shortest-roundtrip double printing
    * plus a declared DoubleType read reproduces every value bit-for-bit
    * (`ts` is deliberately excluded — XML timestamp text formats are a
    * documented lossy edge, the same reason q63's sink pins parquet).
    *
    * Scale: both write and read are ordinary per-partition datasource
    * work; the aggregate is the only shuffle. */
  def q268XmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val base = Tables.events(spark, sfDir)
      .filter($"event_id" % 10 === 0)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val dir = s.dir("graft-xml-")
    base.write.mode("overwrite").format("xml")
      .option("rowTag", "event").save(s"$dir/xml")
    val back = spark.read.format("xml")
      .option("rowTag", "event").schema(base.schema).load(s"$dir/xml")
    TempIo.materialize(spark,
      back.groupBy($"event_type")
        .agg(count(lit(1)).as("counts"),
          sum($"event_id").as("sum_id"),
          Exact.sumExact($"value", 2).as("sum_value"))
        .orderBy($"event_type"))
  }

  def q268Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS counts,
       CAST(sum(event_id) AS BIGINT) AS sum_id,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) / 100.0
         AS sum_value
       FROM events WHERE event_id % 10 = 0
       GROUP BY event_type ORDER BY event_type"""
}
