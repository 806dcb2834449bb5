package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/** One engine capability exposed through the driver contract: a Spark
  * query over the test tables plus (when SQL-expressible) an equivalent
  * ANSI SQL oracle for DuckDB. Column names/aliases MUST match between
  * the two (driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {
  /** Spread a SMALL scan across the session's cores before heavy
    * per-row CPU work (extraction, alignment, signature hashing, the
    * external-process pipe). A table that fits one parquet split
    * arrives as ONE task — `maxSplitBytes` never cuts a file below
    * `openCostInBytes` (4 MB) — so every row-local operator downstream
    * runs single-threaded no matter how many cores the session has
    * (optimization guide §2.5 "input skew": one unsplittable input →
    * repartition immediately after the read).
    *
    * Scale-adaptive by construction: when the scan already yields at
    * least the session's default parallelism (any production-size
    * table), this is the identity — zero extra Exchange at scale. The
    * explicit partition count pins the exchange against AQE coalescing
    * (the point is task count for CPU, not shuffle bytes); hashing on
    * the caller's key column is deterministic under task retries
    * (guide §2.5 — never round-robin on nondeterministic input).
    * Callers are per-row maps whose queries end in their own
    * orderBy/aggregate, so row placement cannot change results.
    */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  /** Read splits of `df`'s planned file scans, summed over a Union's
    * branches: for a scan that is filtered, projected or unioned, the
    * partition count `df.rdd` would report. Planning only — no SQL
    * execution runs, and the query that consumes `df` plans it afresh. */
  private[queries] def scanPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }.sum
}
