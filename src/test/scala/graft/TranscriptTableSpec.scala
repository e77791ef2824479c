package graft

import org.apache.spark.sql.functions._
import graft.sources.{Transcripts, TranscriptTable}
import graft.streaming.TranscriptStream

/** Iceberg-analog layout: resume-style reads must PRUNE day partitions at
  * planning time (the distributed replacement for the reference's
  * byte-offset Seek, main.go:244-248).
  */
class TranscriptTableSpec extends SparkSuite {

  test("days(ts) layout prunes partitions for watermark reads; data intact") {
    val path = tempDir("graft_table").toString + "/turns"
    val turns = Transcripts.transcripts(spark, "/root/testdata/sf0.001")
    TranscriptTable.materialize(turns, path)

    // read with the transcript schema: no footer job infers one, and the
    // discovered event_day partition column is dropped
    assert(jobsRun(TranscriptTable.read(spark, path)) == 0)
    val all = TranscriptTable.read(spark, path)
    assert(all.schema == TranscriptStream.turnSchema)
    assert(all.count() == turns.count())

    val wm = "2024-01-25 00:00:00"
    val resumed = TranscriptTable.readAfter(spark, path, wm)
    val expected = turns.filter(col("ts") > lit(wm).cast("timestamp"))
    assert(resumed.count() == expected.count() && resumed.count() > 0)

    // pruning proof: the resume scan reads ~6/30 day partitions
    resumed.collect()
    val fullFiles = { all.collect(); TranscriptTable.scannedFileCount(all) }
    val resumedFiles = TranscriptTable.scannedFileCount(resumed)
    assert(resumedFiles > 0 && resumedFiles * 4 < fullFiles,
      s"resume read $resumedFiles of $fullFiles files — not pruned")
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
