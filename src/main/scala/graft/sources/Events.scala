package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared loader for the events table. The testdata's `events.parquet` has shipped
  * with TWO different physical types for `ts` over time:
  *
  *   - `TIMESTAMP(NANOS)`: Spark's parquet reader rejects nanos natively; with
  *     `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a BIGINT of
  *     epoch nanoseconds.
  *   - plain `timestamp[us]` (isAdjustedToUTC=false): Spark reads it natively as
  *     TIMESTAMP_NTZ.
  *
  * Every consumer — batch analytics AND streaming (where `withWatermark` demands
  * TimestampType, not NTZ) — goes through [[normalizeTs]], which branches on the
  * PHYSICAL schema and lands on TimestampType (LTZ) either way. All entry points
  * (Verify / Bench / test fixtures) pin `spark.sql.session.timeZone=UTC`, so the
  * NTZ→LTZ cast is instant-preserving and DuckDB oracles written against the naive
  * parquet value (`epoch_ns(ts)`, `CAST(ts AS DATE)`) stay valid unchanged.
  *
  * An UNRECOGNIZED type fails loudly here with the offending type in the message —
  * never downstream as a misleading `DATATYPE_MISMATCH` inside some query plan.
  */
object Events {

  /** Normalize a `ts` column (any supported physical shape) to TimestampType. Works
    * on batch and streaming DataFrames alike — it only inspects the schema.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType => // legacy nanosAsLong read path: BIGINT epoch nanos
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType => // native timestamp[us] read path
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"events.`$colName` has unsupported type $other — expected BIGINT " +
            "(legacy nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP. Did the testdata " +
            "schema change again? Update graft.sources.Events.")
    }

  /** Batch read of `events.parquet` with `ts` normalized to TimestampType. Sets the
    * legacy nanos conf first so BOTH historical physical schemas load.
    */
  def load(spark: SparkSession, dir: String): DataFrame = {
    allowLegacyNanos(spark)
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Turn on `spark.sql.legacy.parquet.nanosAsLong`, so a `TIMESTAMP(NANOS)` column
    * loads as BIGINT epoch nanos instead of failing the read. Call it before the
    * schema inference of any events read. This is the one session setting an
    * operator leaves set rather than scoping it with
    * [[graft.util.Sessions.withConf]]: the reader consults it again when the
    * lazily returned frame executes, after any scope around the call has closed, so
    * no scope can put it back. It changes nothing for files without nanos columns.
    */
  def allowLegacyNanos(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
}
