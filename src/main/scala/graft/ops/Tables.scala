package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each call is a fresh lazy scan — Catalyst prunes columns and pushes
  * filters per consuming query, so sharing a cached DataFrame here would
  * only hurt (it would pin the full schema in memory and defeat
  * per-query column pruning at 100 TB).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The fixture's `events.ts` physical type has drifted across driver
    * regenerations — TIMESTAMP(NANOS) through round 7, plain
    * `timestamp[us]` (TIMESTAMP_NTZ) since round 8 — so normalization
    * is type-adaptive and lives HERE, in exactly one place:
    *
    *  - `TimestampNTZType`: what pandas/pyarrow/DuckDB write by default
    *    (isAdjustedToUTC=false micros). Cast to `TimestampType` — an
    *    identity relabeling under the pinned UTC session timezone, and
    *    the same naive-wall-clock reading DuckDB's oracle uses.
    *  - `LongType`: the legacy nanos path (file is TIMESTAMP(NANOS) and
    *    the session sets `spark.sql.legacy.parquet.nanosAsLong=true`);
    *    floor-div to micros (integer div — a double div would lose
    *    precision at 1e18), matching DuckDB's ns→µs truncation.
    *  - `TimestampType`: already what every consumer expects.
    *
    * Anything else fails loudly here — one pointed error naming the
    * file — instead of sixteen `DATATYPE_MISMATCH`es downstream (the
    * round-8 failure mode). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"), s"$d/events.parquet")

  /** Shared ts-normalization core for batch [[events]] and the
    * streaming reader ([[graft.streaming.StreamingOps]]), so batch and
    * stream can never disagree about what a `ts` value means. */
  private[graft] def normalizeEventTs(raw: DataFrame, src: String): DataFrame =
    raw.schema("ts").dataType match {
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case other => throw unsupportedTs(src, other)
    }

  private[graft] def unsupportedTs(src: String, t: DataType): Exception =
    new IllegalArgumentException(
      s"$src: column ts arrived as $t; supported arrivals are " +
        "TIMESTAMP_NTZ (micros), TIMESTAMP, or legacy Long nanos via " +
        "spark.sql.legacy.parquet.nanosAsLong=true. The fixture's " +
        "physical type has drifted again — extend " +
        "graft.ops.Tables.normalizeEventTs with the new case.")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
