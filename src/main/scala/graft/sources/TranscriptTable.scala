package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.TranscriptStream

/** Iceberg-analog materialized transcript table: partitioned by event day
  * (`days(ts)` layout, SURVEY.md §7.6/SCALE.md) so time-range queries
  * prune partitions at planning time instead of scanning. (Checkpoint
  * resume prunes by source file instead — see Checkpoint.)
  */
object TranscriptTable {

  /** Write turns partitioned by day. (Real deployment: an Iceberg table
    * with `PARTITIONED BY (days(ts), bucket(4096, conv_id))`; the sandbox
    * analog keeps the days dimension, which is what pruning needs.)
    */
  def materialize(turns: DataFrame, path: String): Unit =
    turns.withColumn("event_day", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_day")
      .parquet(path)

  /** The table's turns, read with the transcript schema
    * (TranscriptStream.turnSchema, columns matched by name) rather than
    * one inferred from the parquet footers, so the read runs no Spark
    * job. A column the schema lacks is not read; a column whose type
    * differs fails the scan, naming the column. The `event_day` partition
    * column is still discovered from the directory layout, and dropped.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    scan(spark, path).drop("event_day")

  /** Time-range scan: everything after the watermark. The predicate on
    * the partition column prunes whole directories — assert via
    * [[scannedFileCount]].
    */
  def readAfter(spark: SparkSession, path: String, watermark: String): DataFrame =
    scan(spark, path)
      .filter(col("event_day") >= to_date(lit(watermark)) &&
        col("ts") > lit(watermark).cast("timestamp"))
      .drop("event_day")

  private def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TranscriptStream.turnSchema).parquet(path)

  /** Number of files the plan actually reads (from the scan's selected
    * partitions) — proof of pruning for tests/audits.
    */
  def scannedFileCount(df: DataFrame): Long =
    df.queryExecution.executedPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles
      case _ => 0L
    }.sum
}
