package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the catalog tables (SURVEY.md §4 partition-pruning
  * rows): items and the catalog snapshot are partitioned by calendar month
  * (the reference searches month-by-month, controller.py:45–68, and Redis-
  * keys snapshot pages by period, controller.py:539–602) so period-scoped
  * queries prune partitions instead of scanning history; activities
  * partition by activity_type (the 4 stage queues read disjoint slices).
  */
object TableLayout {

  /** Training-shard writer: the output stage of the curation pipeline.
    * Samples land in `shards` evenly-sized parquet files (range-partitioned
    * on a content-hash shard id so shard membership is deterministic and
    * re-runs produce identical shards), each capped at `maxRecordsPerFile`;
    * returns the manifest (shard → rows) read back from the written data.
    *
    * Scale notes: training readers want many equal shards, not one file
    * per reducer — range partitioning on the hash id gives uniform sizes
    * regardless of upstream skew, and `maxRecordsPerFile` bounds any
    * single file without an extra shuffle. */
  def writeShards(samples: DataFrame, keyCol: String, path: String,
                  shards: Int, maxRecordsPerFile: Long = 1000000L): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = samples.sparkSession
    samples
      .withColumn("shard", pmod(xxhash64(col(keyCol)), lit(shards)).cast("int"))
      .repartitionByRange(shards, col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)
    spark.read.parquet(path)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("shard"))
  }

  /** Write items partitioned by month(start_date). */
  def writeItems(items: DataFrame, path: String): Unit =
    items
      .withColumn("month", date_format(col("start_date"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("month")
      .option("compression", "zstd").parquet(path)

  /** Month-scoped items read — prunes to the requested partitions. */
  def readItemsForMonths(spark: SparkSession, path: String, months: Seq[String]): DataFrame =
    spark.read.parquet(path).filter(col("month").isin(months: _*))
}
