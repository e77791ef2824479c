package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Batch checkpoint/resume (reference K1-K3, SURVEY.md §2.6) with
  * EXACTLY-ONCE sink commits — deliberately stronger than the reference's
  * at-least-once replay (offset advanced before sink write,
  * /root/reference/main.go:291-297; mongo resume uses $gte so the last
  * entry replays, /root/reference/database/mongodb/mongo.go:89-91).
  *
  * Resume is by source position, as in the reference (a byte offset into
  * the input file, main.go:244-248), at file granularity. Two pieces:
  *  - a FILE LEDGER: the directory `ledgerPath` holds one small text entry
  *    per committed batch — its batch id, the rows it committed and the
  *    canonical paths of the source files it consumed (the shape of
  *    Structured Streaming's seen-files log; the analog of checkpoint.gob,
  *    reference main.go:312-355). It is read with one directory listing
  *    and each entry is written atomically (temp file, then rename), by
  *    plain file-system calls, so the ledger costs no Spark job;
  *  - idempotent sink commits: data lands under batch_id=N partitions with
  *    dynamic partition overwrite, so a replayed batch REPLACES itself
  *    instead of duplicating (the Iceberg-snapshot-commit analog, SURVEY.md
  *    §7.6).
  *
  * Resume = `turns.inputFiles` minus the ledger's files → a
  * `_metadata.file_path` predicate on the scan, which Spark prunes at
  * planning time, so an increment reads only its new files. The ledger
  * entry is written AFTER the data commit: a crash between the two replays
  * batch N over the same files, and the overwrite makes the replay a no-op.
  * A turn's `ts` plays no part, so tied timestamps and late files commit
  * exactly once.
  *
  * Input contract: `turns` is ONE file-source scan over an append-only
  * landing directory. The ledger keys files by path, as Structured
  * Streaming's file source does: a file written under a new name (which
  * every `mode("overwrite")` rewrite does) is new input and commits again;
  * a file modified under a name already committed is never re-read.
  */
object Checkpoint {

  /** One committed batch: its id, the rows it committed, the canonical
    * paths of the source files it consumed.
    */
  private final case class LedgerEntry(batchId: Long, rows: Long,
                                       files: Seq[String])

  /** The part of `turns` no ledger entry holds yet: the scan narrowed to
    * the new `files`, and the batch id it commits under.
    */
  final case class Increment(turns: DataFrame, batchId: Long, files: Seq[String])

  /** One spelling per file. `inputFiles` writes `file:///a%20b`, the
    * `_metadata.file_path` column `file:/a%20b` (both URL-encoded);
    * rebuilt from its URI parts either becomes the column's spelling, so
    * the ledger and the scan predicate compare equal.
    */
  def canonicalPath(path: String): String = {
    val u = new URI(path)
    new URI(u.getScheme, u.getAuthority, u.getPath, u.getQuery, u.getFragment)
      .toString
  }

  /** Canonical paths of the files `turns` scans. Resume keys on them, so
    * `turns` must be ONE file-source scan: for a cached, in-memory, union
    * or join input `inputFiles` is empty or partial, and the increment
    * would silently commit nothing — rejected instead.
    */
  private def sourceFiles(turns: DataFrame): Seq[String] =
    turns.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(r: LogicalRelation) if r.relation.isInstanceOf[HadoopFsRelation] =>
        turns.inputFiles.toSeq.map(canonicalPath)
      case leaves => throw new IllegalArgumentException(
        "resume needs `turns` to be a single file-source scan (spark.read " +
          "over the landing directory), not cached, in-memory, a union or a " +
          s"join; this plan reads ${leaves.map(_.nodeName).mkString(", ")}")
    }

  /** Every ledger entry. A missing ledger directory is the ONLY condition
    * treated as "no checkpoint yet": any other read failure propagates, and
    * so does a file that is not an entry — a ledger pointed at some other
    * directory would otherwise restart at batch 0 and replay every file.
    */
  private def ledger(spark: SparkSession, ledgerPath: String): Seq[LedgerEntry] = {
    val dir = new Path(ledgerPath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val listed =
      try fs.listStatus(dir)
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    // dot files are the in-flight temp entries and their checksums
    listed.iterator.map(_.getPath).filterNot(_.getName.startsWith(".")).map { p =>
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      text.linesIterator.toList match {
        case "v1" :: s"batch $id" :: s"rows $n" :: files
            if p.getName == id && files.forall(_.startsWith("file ")) =>
          LedgerEntry(id.toLong, n.toLong, files.map(_.stripPrefix("file ")))
        case _ => throw new IllegalStateException(
          s"$p is not a file-ledger entry; give the ledger a directory of its own")
      }
    }.toVector
  }

  /** Batches that committed rows. */
  def committedBatches(spark: SparkSession, ledgerPath: String): Long =
    ledger(spark, ledgerPath).count(_.rows > 0).toLong

  /** The files of `turns` no ledger entry holds, or None when none is new.
    * Costs one listing of the ledger and no Spark job.
    */
  def pending(turns: DataFrame, ledgerPath: String): Option[Increment] = {
    val files = sourceFiles(turns)
    val done = ledger(turns.sparkSession, ledgerPath)
    val seen = done.iterator.flatMap(_.files).toSet
    val fresh = files.filterNot(seen).sorted
    Option.when(fresh.nonEmpty)(Increment(
      turns.filter(col("_metadata.file_path").isin(fresh: _*)),
      done.map(_.batchId).maxOption.fold(0L)(_ + 1), fresh))
  }

  /** Ledger commit of an increment whose data already landed — in the
    * partitioned sink or in Main.run's statement sink. The entry is
    * written to a temp file and renamed into place, so a reader sees it
    * whole or not at all. An increment that committed no rows is recorded
    * too: its files are consumed and never rescanned.
    */
  def record(spark: SparkSession, ledgerPath: String, inc: Increment,
             rows: Long): Unit = {
    val dir = new Path(ledgerPath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(dir, s".${inc.batchId}.tmp")
    val out = fs.create(tmp, true)
    try out.write((Seq("v1", s"batch ${inc.batchId}", s"rows $rows") ++
      inc.files.map("file " + _)).mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, inc.batchId.toString)))
      throw new IOException(s"ledger: cannot commit entry ${inc.batchId} at $ledgerPath")
  }

  /** Idempotent data commit: everything in `routed` lands under its
    * batch_id partition; re-running the same batch overwrites in place.
    * One write; the rows it committed are observed during that write.
    */
  def commitBatch(routed: DataFrame, sinkPath: String, batchId: Long): Long = {
    val committed = Observation()
    routed.withColumn("batch_id", lit(batchId))
      .observe(committed, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "sink")
      .parquet(sinkPath)
    committed.get("n").asInstanceOf[Long]
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

  /** One resumable pipeline increment: route the files the ledger has
    * not seen, commit them, record them. Returns rows committed this run;
    * with no new file it returns 0 and runs no Spark job.
    */
  def runIncrement(turns: DataFrame, toolDim: DataFrame, sinkPath: String,
                   ledgerPath: String): Long =
    pending(turns, ledgerPath).fold(0L) { inc =>
      val n = commitBatch(Pipeline.route(Pipeline.enrich(
        Pipeline.filterValid(Pipeline.parse(inc.turns)), toolDim)),
        sinkPath, inc.batchId)
      record(turns.sparkSession, ledgerPath, inc, n)
      n
    }
}
