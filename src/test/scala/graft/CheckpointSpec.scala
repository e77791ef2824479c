package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Checkpoint, Pipeline}
import graft.sources.{TranscriptTable, Transcripts}

/** Checkpoint/resume semantics (reference K1-K3, main_test.go:60-91
  * pipeline-level analog): kill-resume equals single-run, replays are
  * no-ops — exactly-once where the reference is at-least-once — keyed on
  * source files, so tied timestamps and late files commit once too.
  */
class CheckpointSpec extends SparkSuite {

  private def tmp(): String =
    tempDir("graft_ckpt").toString

  private lazy val allTurns = Transcripts.transcripts(spark, "/root/testdata/sf0.001")
  private lazy val toolDim = Transcripts.toolDim(spark)

  private val T1 = "2024-01-01 10:00:00"
  private val T2 = "2024-01-02 10:00:00"

  /** Land `df` in `dir` as new files, the way a producer appends. */
  private def land(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  private def ins(conv: String, id: String, ts: String) =
    (conv, 1, "user", s"""INS shop.orders {"_id":"$id"}""", "tool_0", ts)

  /** One increment over everything landed in `in` so far. */
  private def increment(in: String, sink: String, ledger: String): Long =
    Checkpoint.runIncrement(spark.read.parquet(in), toolDim, sink, ledger)

  private def assertOnce(sink: String, want: Long): Unit = {
    val back = spark.read.parquet(sink)
    assert(back.count() == want)
    assert(back.select("conv_id", "turn_idx").distinct().count() == want)
  }

  test("incremental runs equal single-run; no duplicates; replay is a no-op") {
    val base = tmp()
    val in = s"$base/in"
    val sink = s"$base/sink"
    val ledger = s"$base/ledger"
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")

    // batch 0: only the first half has landed
    land(allTurns.filter(col("ts") <= cut), in)
    val n1 = increment(in, sink, ledger)
    assert(n1 > 0)
    // batch 1: the second half lands as new files — the ledger must
    // exclude the first half's files
    land(allTurns.filter(col("ts") > cut), in)
    val n2 = increment(in, sink, ledger)
    assert(n2 > 0)

    val expected = Pipeline.route(Pipeline.enrich(
      parsedValid(allTurns), toolDim))
    assert(n1 + n2 == expected.count())

    val committed = spark.read.parquet(sink)
    assert(committed.count() == expected.count())
    // no dupes: (conv_id, turn_idx) unique
    assert(committed.select("conv_id", "turn_idx").distinct().count() ==
      committed.count())
    // per-sink counts equal the single-run pipeline (north rule invariant)
    val got = committed.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Pipeline.sinkCounts(expected).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)

    // replay: no new file → zero rows, ledger stable
    val n3 = increment(in, sink, ledger)
    assert(n3 == 0L)
    assert(Checkpoint.committedBatches(spark, ledger) == 2L)
    assert(spark.read.parquet(sink).count() == expected.count())
  }

  test("a turn whose ts ties the committed maximum, in a later file, commits exactly once") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    land(turns(ins("c1", "o1", T1), ins("c2", "o2", T1)), in)
    assert(increment(in, sink, ledger) == 2)
    land(turns(ins("c3", "o3", T1)), in) // ts == the committed maximum
    assert(increment(in, sink, ledger) == 1)
    assert(increment(in, sink, ledger) == 0)
    assertOnce(sink, 3)
    assert(Checkpoint.committedBatches(spark, ledger) == 2)
  }

  test("a late file, every ts below the committed maximum, commits exactly once") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    land(turns(ins("c1", "o1", T2)), in)
    assert(increment(in, sink, ledger) == 1)
    land(turns(ins("c0", "o0", T1), ins("c9", "o9", T1)), in) // lands late
    assert(increment(in, sink, ledger) == 2)
    assert(increment(in, sink, ledger) == 0)
    assertOnce(sink, 3)
  }

  test("new files that route no rows are recorded, never rescanned, and commit no batch") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    land(turns(("c1", 1, "system", "SYS shop.orders {}", "tool_0", T1)), in)
    assert(increment(in, sink, ledger) == 0) // dead-lettered only
    assert(Checkpoint.pending(spark.read.parquet(in), ledger).isEmpty)
    assert(Checkpoint.committedBatches(spark, ledger) == 0)
    land(turns(ins("c2", "o2", T1)), in)
    assert(increment(in, sink, ledger) == 1)
    assert(Checkpoint.committedBatches(spark, ledger) == 1)
    assertOnce(sink, 1)
  }

  test("a crash between the data commit and the ledger entry replays as a no-op") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    land(turns(ins("c1", "o1", T1), ins("c2", "o2", T2)), in)
    val inc = Checkpoint.pending(spark.read.parquet(in), ledger).get
    val n = Checkpoint.commitBatch(Pipeline.route(Pipeline.enrich(
      parsedValid(inc.turns), toolDim)), sink, inc.batchId)
    assert(n == 2)
    // the ledger entry never landed: the resume replays the same batch id
    // over the same files, and the overwrite replaces the first commit
    assert(increment(in, sink, ledger) == n)
    assertOnce(sink, n)
    assert(Checkpoint.committedBatches(spark, ledger) == 1)
  }

  test("resume rejects input that is not a single file-source scan") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    val fixture = turns(ins("c1", "o1", T1))
    land(fixture, in)
    val scan = spark.read.parquet(in)
    val cached = spark.read.parquet(in).cache()
    try {
      Seq("cached" -> cached,
        "in-memory" -> fixture,
        "union" -> scan.union(spark.read.parquet(in)),
        "join" -> scan.join(spark.read.parquet(in).select("conv_id"),
          Seq("conv_id"), "left_semi")).foreach { case (what, df) =>
        val e = intercept[IllegalArgumentException](
          Checkpoint.runIncrement(df, toolDim, sink, ledger))
        assert(e.getMessage.contains("single file-source scan"), what)
      }
    } finally cached.unpersist()
    assert(Checkpoint.committedBatches(spark, ledger) == 0)
    assert(increment(in, sink, ledger) == 1)
  }

  test("ledger and scan spell paths alike: a landing directory whose name holds a space") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/land ing", s"$base/sink", s"$base/ledger")
    land(turns(ins("c1", "o1", T1)), in)
    val scan = spark.read.parquet(in)
    assert(scan.inputFiles.map(Checkpoint.canonicalPath).toSet ==
      scan.select(col("_metadata.file_path")).collect().map(_.getString(0)).toSet)
    assert(increment(in, sink, ledger) == 1)
    land(turns(ins("c2", "o2", T1)), in)
    assert(increment(in, sink, ledger) == 1)
    assert(increment(in, sink, ledger) == 0)
    assertOnce(sink, 2)
  }

  test("job budget: an increment runs one Spark job, the write; a replay none") {
    val base = tmp()
    val (in, sink, ledger) = (s"$base/in", s"$base/sink", s"$base/ledger")
    land(turns(ins("c1", "o1", T1), ins("c2", "o2", T1)), in)
    increment(in, sink, ledger)
    land(turns(ins("c3", "o3", T2)), in)
    // read with the transcript schema: no footer job for schema inference
    val scan = TranscriptTable.read(spark, in)
    assert(jobsRun(TranscriptTable.read(spark, in)) == 0)
    val inc = Checkpoint.pending(scan, ledger).get
    assert(inc.files.size == 1)
    assert(TranscriptTable.scannedFileCount(inc.turns) == inc.files.size)
    // the tool dim is collected on the driver (a literal relation: no
    // job) rather than broadcast, so the sink write is the only job
    assert(queriesRun(Checkpoint.runIncrement(scan, toolDim, sink, ledger)) ==
      Seq("collect", "command"))
    land(turns(ins("c4", "o4", T2)), in)
    assert(jobsRun(Checkpoint.runIncrement(TranscriptTable.read(spark, in),
      toolDim, sink, ledger)) == 1)
    val again = TranscriptTable.read(spark, in)
    assert(queriesRun(Checkpoint.runIncrement(again, toolDim, sink, ledger)) ==
      Nil)
    assert(jobsRun(Checkpoint.runIncrement(again, toolDim, sink, ledger)) == 0)
    assertOnce(sink, 4)
  }

  test("commitBatch is idempotent: same batch id overwrites, never duplicates") {
    val base = tmp()
    val sink = s"$base/sink"
    val routed = Pipeline.route(Pipeline.enrich(
      parsedValid(allTurns), toolDim)).cache()
    val n = routed.count()
    assert(Checkpoint.commitBatch(routed, sink, 0L) == n)
    Checkpoint.commitBatch(routed, sink, 0L) // crash-replay analog
    assert(spark.read.parquet(sink).count() == n)
    routed.unpersist()
  }

  test("compactSink bin-packs per (batch_id, sink); data identical, replay still idempotent") {
    val base = tmp()
    val sink = s"$base/sink"
    val routed = Pipeline.route(Pipeline.enrich(
      parsedValid(allTurns), toolDim))
      // many tasks per commit → the many-tiny-files shape under every
      // (batch_id, sink) directory that maintenance must clean up
      .repartition(16).cache()
    val n = routed.count()
    (0L to 2L).foreach(b => Checkpoint.commitBatch(routed, sink, b))
    // batch_id comes back as a partition-inferred int — compare as string
    val pre = spark.read.parquet(sink)
      .groupBy("batch_id", "sink").count().collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap

    val stats = Checkpoint.compactSink(spark, sink)
    assert(stats.rows == 3 * n)
    // one file per (batch_id, sink) partition directory afterwards
    val nParts = pre.size
    assert(stats.filesAfter == nParts,
      s"want $nParts files, got ${stats.filesAfter} (before: ${stats.filesBefore})")
    assert(stats.filesBefore > stats.filesAfter * 4, // genuinely tiny-file input
      s"before=${stats.filesBefore} after=${stats.filesAfter}")
    // data unchanged, partition values intact
    val post = spark.read.parquet(sink)
      .groupBy("batch_id", "sink").count().collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(post == pre)
    // a crash-replay of batch 1 AFTER compaction still overwrites in place
    Checkpoint.commitBatch(routed, sink, 1L)
    assert(spark.read.parquet(sink).count() == 3 * n)

    // crash-window recovery: a kill inside the two-rename window leaves
    // the sink path absent with the staging copy (and possibly the
    // moved-aside old copy) on disk — heal completes the swap and drops
    // the old copy
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(sink).getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(p(sink), p(sink + ".compact-staging"))
    fs.mkdirs(p(sink + ".compact-old")) // stand-in for the moved-aside copy
    assert(!fs.exists(p(sink)))
    assert(Checkpoint.healCompaction(spark, sink))
    assert(spark.read.parquet(sink).count() == 3 * n)
    assert(!fs.exists(p(sink + ".compact-old")), "old copy not cleaned")
    // swap completed but the old copy's delete was lost: heal drops it
    fs.mkdirs(p(sink + ".compact-old"))
    assert(Checkpoint.healCompaction(spark, sink))
    assert(!fs.exists(p(sink + ".compact-old")))
    assert(spark.read.parquet(sink).count() == 3 * n)
    routed.unpersist()
  }
}
