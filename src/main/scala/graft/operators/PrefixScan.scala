package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable GLOBAL prefix aggregation — running max/sum over a total
  * order with NO single-partition window.
  *
  * `Window.orderBy(...)` without a partition key is the classic
  * 100-TB trap: Spark plans it as one task holding the entire
  * dataset. The standard fix is the two-level scan (the same shape
  * GPU/MPI prefix scans use):
  *
  *   1. bucket rows by a dense range of the order column (integer
  *      `div` — rows stay where they are, ONE shuffle to bucket);
  *   2. aggregate one partial per bucket and prefix-combine those on
  *      the bucket table (tiny — |buckets| rows, broadcast back);
  *   3. run the in-bucket running aggregate in parallel per bucket
  *      and combine with the bucket's carry-in.
  *
  * Determinism: the order is (`orderCol`) which must be unique (use
  * a tiebreak-free dense id like an offset/event id); the combine is
  * max or sum — associative, so the two-level split is exact, and
  * the result equals the naive single-window answer row for row
  * (PrefixScanSpec proves equality on random data).
  *
  * Contract: `orderCol` must be NON-NEGATIVE — bucketing uses
  * integer `div`, which truncates toward zero, so a negative order
  * value would land in bucket 0 alongside small positive ones and
  * break the prefix order. Offsets/event ids satisfy this by
  * construction.
  */
object PrefixScan {

  /** Inclusive global running MAX of `valueCol` in `orderCol` order.
    * Appends `outCol`. `bucketWidth` = how many order units share a
    * bucket (bucket count ≈ order span / width; keep it ≥ the
    * cluster's task count and ≪ the row count). */
  def runningMax(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val bucketed = df.withColumn("__pb", expr(s"`$orderCol` div ${bucketWidth}L"))
    // per-bucket partials (tiny table), exclusive prefix over buckets
    val carry = bucketed.groupBy("__pb").agg(max(col(valueCol)).as("__bm"))
      .withColumn("__carry", lag(col("__bm"), 1).over(
        Window.orderBy(col("__pb"))))
      .withColumn("__carry", max(col("__carry")).over(
        Window.orderBy(col("__pb"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("__pb"), col("__carry"))
    // in-bucket running max runs PARALLEL per bucket; the only
    // single-partition window above is over |buckets| rows.
    val w = Window.partitionBy(col("__pb")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(carry), Seq("__pb"))
      .withColumn("__in", max(col(valueCol)).over(w))
      .withColumn(outCol, greatest(col("__in"), coalesce(col("__carry"),
        col("__in"))))
      .drop("__pb", "__carry", "__in")
  }

  /** Inclusive global running SUM over a SPARSE order domain —
    * `runningSum`'s range-partitioned sibling. Integer-`div`
    * bucketing needs a dense order column (event ids); a sparse one
    * (epoch timestamps) would put ~every row in its own bucket and
    * the bucket summary would be as big as the data. Here Spark's
    * range partitioner buckets by SAMPLED quantiles instead
    * (`repartitionByRange`), the physical partition id becomes the
    * bucket, and the same partial + carry combine applies. The
    * result is boundary-agnostic — wherever sampling lands the
    * splits, the prefix sums are exactly the same values — so the
    * sampling inside the range partitioner costs nothing in
    * determinism.
    *
    * Ties in `orderCol` are allowed IF the caller's downstream only
    * reads tie-insensitive features of the running sum (a same-sign
    * tie run is monotone, so its extremes are deterministic even
    * though intra-run intermediate values are not); equal keys never
    * straddle a range split. */
  def runningSumRanged(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      partitions: Int): DataFrame = {
    require(partitions > 0, s"partitions must be positive: $partitions")
    // pin the sampled ranges (localCheckpoint): the carry join and the
    // in-bucket window must see the SAME bucket assignment — a
    // re-executed range sampling could split differently per consumer
    val bucketed = df.repartitionByRange(partitions, col(orderCol))
      .withColumn("__pb", spark_partition_id().cast("long")).localCheckpoint()
    val carry = bucketed.groupBy("__pb").agg(sum(col(valueCol)).as("__bs"))
      .withColumn("__carry", coalesce(sum(col("__bs")).over(
        Window.orderBy(col("__pb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pb"), col("__carry"))
    val w = Window.partitionBy(col("__pb")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(carry), Seq("__pb"))
      .withColumn(outCol, sum(col(valueCol)).over(w) + col("__carry"))
      .drop("__pb", "__carry")
  }

  /** Inclusive global running SUM (same two-level shape, sum
    * combine). `valueCol` must be integral — the split is exact. */
  def runningSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val bucketed = df.withColumn("__pb", expr(s"`$orderCol` div ${bucketWidth}L"))
    val carry = bucketed.groupBy("__pb").agg(sum(col(valueCol)).as("__bs"))
      .withColumn("__carry", coalesce(sum(col("__bs")).over(
        Window.orderBy(col("__pb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pb"), col("__carry"))
    val w = Window.partitionBy(col("__pb")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(carry), Seq("__pb"))
      .withColumn(outCol, sum(col(valueCol)).over(w) + col("__carry"))
      .drop("__pb", "__carry")
  }
}
