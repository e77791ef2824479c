package graft

import org.apache.spark.sql.functions._
import graft.sources.{Transcripts, TranscriptTable}
import graft.streaming.TranscriptStream

/** The landed transcript table: a day-partitioned layout reads back with
  * the transcript schema, with no Spark job of its own.
  */
class TranscriptTableSpec extends SparkSuite {

  test("days(ts) layout reads with the transcript schema; no job; data intact") {
    val path = tempDir("graft_table").toString + "/turns"
    val turns = Transcripts.transcripts(spark, "/root/testdata/sf0.001")
    turns.withColumn("event_day", to_date(col("ts")))
      .write.partitionBy("event_day").parquet(path)

    // read with the transcript schema: no footer job infers one, and the
    // discovered event_day partition column is dropped
    assert(jobsRun(TranscriptTable.read(spark, path)) == 0)
    val all = TranscriptTable.read(spark, path)
    assert(all.schema == TranscriptStream.turnSchema)
    assert(all.count() == turns.count())
  }

  test("GraftSession helper applies conf + registers SQL functions") {
    val s = GraftSession.create("local[2]", shufflePartitions = 4)
    try {
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.sql("SELECT parse_turn('INS a.b {}').db AS db")
        .collect()(0).getString(0) == "a")
    } finally () // shared-JVM: do not stop, other suites reuse the context
  }
}
