package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.TranscriptStream

/** A landed transcript table: parquet files of turns, flat or
  * partitioned by an `event_day` directory (`days(ts)` layout, SURVEY.md
  * §7.6/SCALE.md). Checkpoint resume prunes it by source file.
  */
object TranscriptTable {

  /** The table's turns, read with the transcript schema
    * (TranscriptStream.turnSchema, columns matched by name) rather than
    * one inferred from the parquet footers, so the read runs no Spark
    * job. A column the schema lacks is not read; a column whose type
    * differs fails the scan, naming the column. The `event_day` partition
    * column is still discovered from the directory layout, and dropped.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    scan(spark, path).drop("event_day")

  private def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TranscriptStream.turnSchema).parquet(path)

  /** Number of files the plan actually reads (from the scan's selected
    * partitions) — proof of pruning for tests.
    */
  def scannedFileCount(df: DataFrame): Long =
    df.queryExecution.executedPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles
      case _ => 0L
    }.sum
}
