package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seventy-sixth query wave, batch half: q361 runs a filtered,
  * projected aggregate THROUGH the custom `graftsink` DataSourceV2
  * connector and proves the connector's operator pushdown — the scan
  * Catalyst receives carries the predicate and the pruned column set,
  * so rows are dropped and narrowed executor-side inside the
  * connector, before they ever enter the Spark plan.
  */
object Relational57 {

  /** q361 — DSV2 READ PUSHDOWN ROUNDTRIP: lineitem facts are staged
    * into a `graftsink` table (the custom V2 connector with the
    * two-phase append commit), then read back with a predicate
    * (flag = 'R' AND qc ≥ 2500) and a 3-column projection, and
    * aggregated per partkey residue. The connector's ScanBuilder
    * implements SupportsPushDownFilters + SupportsPushDownRequiredColumns
    * ([[graft.sources.GraftScanBuilder]]), so BOTH operators execute
    * INSIDE the reader: accepted filters are compiled to an
    * executor-side Catalyst predicate over the stored layout (and are
    * NOT re-evaluated by Spark — the residual contract), and
    * survivors are projected to the pruned schema before leaving the
    * scan. GraftSinkSpec plan-asserts the handshake; the oracle
    * proves end-to-end equivalence against the raw table.
    *
    * Scale: the staged table scans one task per committed part file;
    * filter+projection work scales with the scanned partition, not
    * the driver; the aggregate is an ordinary 10-group fold. */
  def q361GraftsourcePushdown(spark: SparkSession, sfDir: String): DataFrame = Scope.run { s =>
    import spark.implicits._
    val out = s.dir("graft-dsv2r-")
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"),
        $"l_returnflag".as("flag"),
        Exact.cents($"l_quantity").as("qc"),
        Exact.cents($"l_extendedprice").as("pc"))
      .write.format("graftsink").mode("append")
      .option("path", out).save()
    TempIo.materialize(spark,
      spark.read.format("graftsink").load(out)
        .filter($"flag" === "R" && $"qc" >= 2500L)
        .select($"pk", $"pc", $"qc")
        .groupBy(expr("pk % 10").as("residue"))
        .agg(count(lit(1)).as("n_lines"),
          sum($"pc").as("sum_price_cents"),
          max($"qc").as("max_qty_cents"))
        .orderBy($"residue"))
  }

  def q361Sql: String =
    """SELECT l_partkey % 10 AS residue,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           AS BIGINT)) AS BIGINT) AS sum_price_cents,
         CAST(max(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
           AS BIGINT)) AS BIGINT) AS max_qty_cents
       FROM lineitem
       WHERE l_returnflag = 'R'
         AND CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
           >= 2500
       GROUP BY 1 ORDER BY residue"""
}
