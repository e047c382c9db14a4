package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading + cross-engine-deterministic numeric helpers.
  *
  * Design rule for every scored query (SURVEY.md §2.4): any DOUBLE that
  * reaches the output must be bit-identical between Spark and the DuckDB
  * oracle. Floating sums are order-dependent, so all money/measure sums are
  * computed as exact DECIMAL sums (order-independent) and only cast back to
  * DOUBLE at the very end; single-value double ops (mul/div/sqrt) are IEEE
  * 754 correctly-rounded and match across engines.
  */
object Tables {

  /** Load one synthetic table (TESTDATA.md layout: `<dir>/<name>.parquet`). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read nanos as raw longs via `nanosAsLong` and floor-truncate to µs, the
    * same truncation DuckDB applies casting TIMESTAMP_NS to TIMESTAMP) and
    * plain TIMESTAMP(MICROS) with no UTC flag (read natively as
    * TIMESTAMP_NTZ). Adapt on the read schema so both generations load to
    * identical session-TZ timestamps (session TZ is pinned UTC everywhere,
    * so the NTZ→LTZ cast is instant-preserving). */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventsTs(spark)(spark.read.parquet(s"$dir/events.parquet"))

  /** The one `ts` normalisation of [[events]], for batch and streaming
    * reads alike: `read` runs with `nanosAsLong` set, and its `ts` column
    * is adapted on the frame's schema (the declared schema, for a
    * stream). */
  def withEventsTs(spark: SparkSession)(read: => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Exact decimal(18,2) view of a double column (per-value rounding is
    * deterministic and identical in Spark and DuckDB — both round half away
    * from zero for positives). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** decimal(18,6) for derived per-row expressions (e.g. price*(1-disc)). */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent exact sum of a money column, emitted as DOUBLE. */
  def sumMoney2(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  def sumMoney6(c: Column): Column = sum(dec6(c)).cast(DoubleType)

  /** Stable truncate-for-hashing of a double. floor(x*1e6)/1e6 is pure
    * IEEE arithmetic, identical in Spark and DuckDB; a decimal cast is NOT
    * (the engines disagree on shortest-repr rounding ties). */
  def round6(c: Column): Column =
    (floor(c * 1e6).cast(DoubleType) / 1e6).cast(DoubleType)
}
