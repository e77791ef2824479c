package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch checkpoint/resume (reference K1-K3, SURVEY.md §2.6) with
  * EXACTLY-ONCE sink commits — deliberately stronger than the reference's
  * at-least-once replay (offset advanced before sink write,
  * /root/reference/main.go:291-297; mongo resume uses $gte so the last
  * entry replays, /root/reference/database/mongodb/mongo.go:89-91).
  *
  * Two pieces:
  *  - a tiny ledger table (parquet) of committed (batch_id, max_ts) — the
  *    analog of checkpoint.gob (/root/reference/main.go:312-355);
  *  - idempotent sink commits: data lands under batch_id=N partitions with
  *    dynamic partition overwrite, so a replayed batch REPLACES itself
  *    instead of duplicating (the Iceberg-snapshot-commit analog, SURVEY.md
  *    §7.6).
  *
  * Resume = read ledger → watermark = max committed ts → source filter
  * `ts > watermark`, which prunes partitions at the scan (the distributed
  * replacement for the reference's byte-offset Seek, main.go:244-248).
  */
object Checkpoint {

  /** Ledger-missing is the ONLY condition treated as "no checkpoint yet":
    * a transient read failure (permissions, corrupt footer, FS hiccup) must
    * PROPAGATE — swallowing it would silently reset the watermark and
    * reprocess the full input under batch_id 0 while committed batches
    * 1..N stay in the sink, duplicating data and breaking exactly-once.
    */
  private def ledgerExists(spark: SparkSession, ledgerPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(ledgerPath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Highest committed event time, if any batch committed yet. Returned as
    * the engine's own timestamp representation (NTZ → LocalDateTime, LTZ →
    * Instant/Timestamp) and only ever fed back through lit() — never
    * interpreted driver-side.
    */
  def lastWatermark(spark: SparkSession, ledgerPath: String): Option[Any] =
    if (!ledgerExists(spark, ledgerPath)) None
    else {
      val rows = spark.read.parquet(ledgerPath)
        .agg(max(col("max_ts"))).collect()
      Option(rows(0).get(0))
    }

  def committedBatches(spark: SparkSession, ledgerPath: String): Long =
    if (!ledgerExists(spark, ledgerPath)) 0L
    else spark.read.parquet(ledgerPath).count()

  /** The turns not yet committed: `ts` past the ledger's watermark, or all
    * of `turns` before the first commit.
    */
  def pastWatermark(turns: DataFrame, ledgerPath: String): DataFrame =
    lastWatermark(turns.sparkSession, ledgerPath)
      .fold(turns)(wm => turns.filter(col("ts") > lit(wm)))

  /** Ledger commit of a batch whose data already landed — in the
    * partitioned sink (the overload below) or in Main.run's statement
    * sink: append `(batchId, max ts of batch)`. An empty batch appends
    * nothing, so it neither advances the watermark nor takes a batch id.
    */
  def commitBatch(batch: DataFrame, ledgerPath: String, batchId: Long): Unit =
    batch.agg(max(col("ts")).as("max_ts"))
      .filter(col("max_ts").isNotNull)
      .select(lit(batchId).as("batch_id"), col("max_ts"))
      .write.mode("append").parquet(ledgerPath)

  /** Idempotent data commit: everything in `routed` lands under its
    * batch_id partition; re-running the same batch overwrites in place.
    * Ledger append AFTER data commit — a crash between the two replays the
    * batch on resume, and the overwrite makes the replay a no-op.
    */
  def commitBatch(routed: DataFrame, sinkPath: String, ledgerPath: String,
                  batchId: Long): Unit = {
    routed.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "sink")
      .parquet(sinkPath)
    commitBatch(routed, ledgerPath, batchId)
  }

  case class CompactStats(filesBefore: Long, filesAfter: Long, rows: Long)

  private def parquetFileCount(spark: SparkSession, path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Small-file compaction for the (batch_id, sink) layout — the
    * rewrite_data_files / bin-pack maintenance pass every table-format
    * sink needs: each micro-batch commit writes one file per task per
    * partition, so N batches × P tasks × S sinks accumulate N·P·S tiny
    * files and scan planning starts to dominate reads. The rewrite
    * repartitions BY the partition columns (all rows of one (batch_id,
    * sink) land in one task → one file per partition directory, split
    * only past `maxRecordsPerFile`), writes to a staging directory, then
    * swaps it in — a crash mid-compact leaves the original sink intact
    * (the snapshot-swap analog; a real Iceberg catalog makes the swap a
    * metadata commit). Batch replay stays idempotent afterwards: a
    * re-committed batch_id still dynamic-overwrites its own partitions.
    *
    * Crash anatomy (rename-aside, never delete-then-rename): the staging
    * write completes first, then the original is RENAMED to `<sink>
    * .compact-old` (an atomic directory move — a complete copy exists at
    * every instant, unlike a recursive delete, which a mid-kill leaves
    * half-gone and indistinguishable from a healthy sink), staging is
    * renamed in, and only then is the old copy deleted. A kill inside
    * the two-rename window leaves the sink path briefly absent with
    * BOTH full copies on disk; the next compactSink (or
    * [[healCompaction]]) completes the swap before doing anything else,
    * and a kill after the swap at worst strands the old copy, which heal
    * also cleans. Readers racing the window see a missing path, not
    * partial data. Compaction assumes no CONCURRENT writer (run it
    * between increments); a real Iceberg catalog serializes both the
    * swap and writers through the metadata commit.
    */
  def compactSink(spark: SparkSession, sinkPath: String,
                  maxRecordsPerFile: Long = 1L << 20): CompactStats = {
    healCompaction(spark, sinkPath)
    val before = parquetFileCount(spark, sinkPath)
    val staging = sinkPath + ".compact-staging"
    val df = spark.read.parquet(sinkPath)
    val rows = df.count()
    df.repartition(col("batch_id"), col("sink"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("batch_id", "sink")
      .parquet(staging)
    val root = new org.apache.hadoop.fs.Path(sinkPath)
    val old = new org.apache.hadoop.fs.Path(sinkPath + ".compact-old")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"compaction swap: cannot clear $old")
    if (!fs.rename(root, old))
      throw new java.io.IOException(
        s"compaction swap: cannot move $sinkPath aside; sink untouched")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), root))
      throw new java.io.IOException(
        s"compaction swap failed: full copies intact at $old and $staging")
    fs.delete(old, true) // best-effort; a stranded old is healed next run
    CompactStats(before, parquetFileCount(spark, sinkPath), rows)
  }

  /** Complete a compaction swap interrupted mid-window: if the sink path
    * is gone but a finished staging copy exists, rename it in (and drop
    * the moved-aside old copy); if the swap finished but the old copy's
    * delete didn't, drop the leftover. Safe to call any time; no-op when
    * the sink is healthy.
    */
  def healCompaction(spark: SparkSession, sinkPath: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(sinkPath)
    val staging = new org.apache.hadoop.fs.Path(sinkPath + ".compact-staging")
    val old = new org.apache.hadoop.fs.Path(sinkPath + ".compact-old")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root) && fs.exists(staging)) {
      val healed = fs.rename(staging, root)
      if (healed && fs.exists(old)) fs.delete(old, true)
      healed
    } else if (fs.exists(root) && fs.exists(old) && !fs.exists(staging)) {
      fs.delete(old, true) // swap completed; only the cleanup was lost
    } else false
  }

  /** One resumable pipeline increment: filter past the ledger watermark,
    * route, commit. Returns rows committed this run.
    */
  def runIncrement(turns: DataFrame, toolDim: DataFrame, sinkPath: String,
                   ledgerPath: String): Long = {
    val routed = Pipeline.route(Pipeline.enrich(
      Pipeline.filterValid(Pipeline.parse(pastWatermark(turns, ledgerPath))),
      toolDim))
    val batchId = committedBatches(turns.sparkSession, ledgerPath)
    val cached = routed.cache()
    try {
      val n = cached.count()
      if (n > 0) commitBatch(cached, sinkPath, ledgerPath, batchId)
      n
    } finally cached.unpersist()
  }
}
