package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate-rollup maintenance (q63's algebra as a maintained
  * table): a daily (event_type, d) rollup of n/sum/max is kept up to date
  * by merging each new batch's PARTIAL rollup — history is never
  * recomputed. All three metrics are commutative monoids, so
  * merge(state, partial(batch)) over any batch slicing equals the full
  * recompute (law-tested in StreamingIngestSpec).
  *
  * Idempotency contrast with [[UpsertState]]: latest-wins is idempotent
  * (re-delivery is a no-op), but SUMS ARE NOT — a replayed batch would
  * double-count. The streaming composition therefore relies on the
  * checkpoint's exactly-once-per-file guarantee (the AvailableNow
  * [[graft.streaming.EventStreams.drain]] over a checkpoint), which is
  * precisely what it provides; at-least-once delivery upstream of the
  * landing dir needs a dedup-append ([[DedupAppend]]) in front. This
  * asymmetry is documented here because it decides which gate a 100 TB
  * pipeline needs where.
  *
  * Scale note: per batch, `partial` is the only data-sized operation (one
  * partial+final agg over the batch); `merge` touches two ROLLUP-sized
  * frames (types × days). The overwrite becomes a partition swap when the
  * rollup is date-partitioned at rest.
  */
object RollupState {

  /** One batch's partial rollup. Batch schema: (event_type, ts_us, cents). */
  def partial(batch: DataFrame): DataFrame =
    batch.select(col("event_type"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd").as("d"),
        col("cents"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
           max(col("cents")).as("max_cents"))

  /** Merge a partial rollup into the maintained table (creating it on
    * first use): sum of counts, sum of sums, max of maxes — through the
    * shared [[StateMerge]] discipline. Streaming callers pass the
    * micro-batch id so a foreachBatch retry cannot double-count the sums
    * (StateMerge stamps and skips replays); batch callers omit it. */
  def merge(spark: SparkSession, partialRollup: DataFrame, rollupPath: String,
            batchId: Long = -1L): Unit =
    StateMerge.mergeOverwrite(spark, partialRollup, rollupPath, batchId)(
      _.groupBy(col("event_type"), col("d"))
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
             max(col("max_cents")).as("max_cents")))
}
