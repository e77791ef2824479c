package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Main
import graft.operators.{Checkpoint, Pipeline}
import graft.sources.{TranscriptTable, Transcripts}

/** Run parameters written by run.py (java.util.Properties format). */
final case class Params(p: java.util.Properties) {
  def s(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
  def i(k: String): Int = s(k).toInt
  def l(k: String): Long = s(k).toLong
  def longs(k: String): IndexedSeq[Long] =
    s(k).split(",").iterator.filter(_.nonEmpty).map(_.toLong).toIndexedSeq
  def prefixed(pre: String): Map[String, Long] =
    p.stringPropertyNames().asScala.filter(_.startsWith(pre))
      .map(k => k.stripPrefix(pre) -> p.getProperty(k).toLong).toMap
}

/** Outcome of one timed operation. `error` set = the operation failed. */
final case class OpResult(wallS: Double, turnsIn: Long, outputs: Long,
                          readBytes: Long, error: Option[String])

/** Calls into the program, optionally wrapped in spans. */
final class Calls(tracer: Option[Tracer]) {
  def apply[A](name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f)._1)
}

trait Workload {
  /** Turns one operation consumes (route_bulk, render_sql). */
  def turnsPerOp: Long
  /** Fresh output state for a measured phase. */
  def begin(spark: SparkSession, tag: String): Unit = ()
  def hasNext: Boolean = true
  def op(spark: SparkSession, call: Calls): OpResult
  /** Untimed warm-up for set-up round `round`. */
  def warmup(spark: SparkSession, round: Int): Unit
  /** Prefix cuts for the traced run, in pipeline order: each runs the
    * layers up to and including the named one and consumes what the next
    * layer reads; the last is the full operation.
    */
  def cuts(spark: SparkSession): Seq[(String, () => Unit)]
  /** Checks and facts at the end of a phase; errors fail the run. */
  def finish(spark: SparkSession): (Seq[String], Map[String, Any]) =
    (Nil, Map.empty)
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  def files(p: Path, suffix: String): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val all = Files.walk(p)
      try all.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(suffix)).toSeq
      finally all.close()
    }

  /** Run `df` to the end, reading every value of `cols`: one count per
    * column (a null test per value), aggregated the way the full jobs
    * aggregate, so cut costs add up instead of paying a per-row output
    * path or a per-byte comparison the real job never runs.
    */
  def consume(df: DataFrame, cols: String*): Unit =
    df.agg(count(col(cols.head)), cols.tail.map(c => count(col(c))): _*).collect()

  /** Result, wall seconds and bytes read of `f`. */
  def timed[A](f: => A): (A, Double, Long) = {
    val r0 = PerfBench.readBytes()
    val t0 = System.nanoTime()
    val a = f
    ((a, (System.nanoTime() - t0) / 1e9, PerfBench.readBytes() - r0))
  }

  def apply(p: Params): Workload = p.s("workload") match {
    case "route_bulk" => new RouteBulk(p)
    case "render_sql" => new RenderSql(p)
    case "resume_tail" => new ResumeTail(p)
    case other => sys.error(s"unknown workload $other")
  }
}

import Workload._

/** Bulk read path: scan → parse → filter → enrich → route → per-sink counts
  * over the replicated transcript table.
  */
final class RouteBulk(p: Params) extends Workload {
  private val rep = p.i("replication")
  private val baseTurns = p.l("turns")
  val turnsPerOp: Long = baseTurns * rep
  private val expected = p.prefixed("expect.sink.").map { case (k, n) => k -> n * rep }
  private val path = Paths.get(p.s("layout_dir"))
  private var lastCounts = Map.empty[String, Long]

  private def read(spark: SparkSession): DataFrame = spark.read.parquet(path.toString)

  private def job(spark: SparkSession, call: Calls): Map[String, Long] = {
    val turns = call("sources.read")(read(spark))
    val parsed = call("parse.parse")(Pipeline.parse(turns))
    val valid = call("parse.filterValid")(Pipeline.filterValid(parsed))
    val enriched = call("enrich.enrich")(
      Pipeline.enrich(valid, Transcripts.toolDim(spark)))
    val routed = call("route.route")(Pipeline.route(enriched))
    call("route.sinkCounts")(Pipeline.sinkCounts(routed).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def op(spark: SparkSession, call: Calls): OpResult = {
    val (got, wall, read) = timed(job(spark, call))
    lastCounts = got
    val err = if (got == expected) None
      else Some(s"per-sink counts $got != expected $expected")
    OpResult(wall, turnsPerOp, got.values.sum, read, err)
  }

  def warmup(spark: SparkSession, round: Int): Unit = job(spark, new Calls(None))

  /** Each cut consumes the columns the next layer of the job reads, so
    * column pruning cannot drop the work the full job does.
    */
  def cuts(spark: SparkSession): Seq[(String, () => Unit)] = {
    def valid = Pipeline.filterValid(Pipeline.parse(read(spark)))
    Seq(
      "sources" -> (() => consume(read(spark), "text", "tool")),
      "parse" -> (() => consume(valid, "op", "tool")),
      "enrich" -> (() => consume(Pipeline.enrich(valid, Transcripts.toolDim(spark)),
        "op", "tool_kind")),
      "route" -> (() => job(spark, new Calls(None))))
  }

  /** Rows of the last job whose tool had no dimension row (the enrich
    * left join's misses land in the `*_unknown` sinks).
    */
  def unmatched: Long =
    lastCounts.collect { case (k, n) if k.endsWith("_unknown") => n }.sum
}

/** The reference's primary output: the full ordered SQL statement stream
  * of one batch, written as one .sql file through the CLI's sql path.
  */
final class RenderSql(p: Params) extends Workload {
  val turnsPerOp: Long = p.l("turns")
  private val path = Paths.get(p.s("layout_dir"))
  private val work = Paths.get(p.s("work_dir"))
  /** The oracle's statements: the stream must hold exactly these. */
  private val expectSorted: IndexedSeq[String] =
    Files.readAllLines(Paths.get(p.s("expect.statements_path"))).asScala
      .toIndexedSeq.sorted
  private val expectRejects = p.l("expect.rejects")
  private var seq = 0
  /** SHA-256 of the ordered stream, first seen in this run. */
  var streamSha: Option[String] = None
  var lastBytes = 0L
  var lastDdl = 0L
  var lastRejects = 0L

  private def read(spark: SparkSession): DataFrame = spark.read.parquet(path.toString)

  private def conf(out: Path): Main.Conf =
    Main.Conf(path.toString, "parquet", out.toString, "sql", None,
      "local[*]")

  /** Statements in stream order, byte size and SHA-256 of the written
    * .sql stream.
    */
  def inspect(out: Path): (IndexedSeq[String], Long, String) = {
    val parts = files(out, ".txt").sortBy(_.getFileName.toString)
    val md = MessageDigest.getInstance("SHA-256")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var bytes = 0L
    parts.foreach { f =>
      bytes += Files.size(f)
      val r = Files.newBufferedReader(f)
      try {
        var line = r.readLine()
        while (line != null) {
          md.update(line.getBytes("UTF-8"))
          md.update('\n'.toByte)
          lines += line
          line = r.readLine()
        }
      } finally r.close()
    }
    (lines.toIndexedSeq, bytes, md.digest().map("%02x".format(_)).mkString)
  }

  /** Empty when `got` holds exactly the oracle's statements, in any order;
    * otherwise a description of the first difference each way.
    */
  def statementDiff(got: IndexedSeq[String]): Option[String] = {
    val sorted = got.sorted
    Option.when(sorted != expectSorted) {
      val extra = sorted.diff(expectSorted)
      val missing = expectSorted.diff(sorted)
      s"stream differs from the oracle statements: ${extra.size} not in the " +
        s"oracle (first: ${extra.headOption.getOrElse("-")}), ${missing.size} " +
        s"missing (first: ${missing.headOption.getOrElse("-")})"
    }
  }

  def op(spark: SparkSession, call: Calls): OpResult = {
    seq += 1
    val out = work.resolve(s"render-$seq.sql")
    deleteTree(out)
    val ((n, rejects), wall, read) =
      timed(call("sqlsink.Main.run")(Main.run(spark, conf(out))))
    val (stmts, bytes, sha) = inspect(out)
    deleteTree(out)
    lastBytes = bytes
    lastRejects = rejects
    lastDdl = stmts.count(s => !Seq("INSERT INTO", "UPDATE", "DELETE FROM")
      .exists(s.startsWith)).toLong
    val errs = Seq(
      Option.when(n != stmts.size)(
        s"Main.run reported $n statements, the file holds ${stmts.size}"),
      Option.when(rejects != expectRejects)(
        s"dead-lettered $rejects != expected $expectRejects"),
      statementDiff(stmts),
      Option.when(streamSha.exists(_ != sha))(
        s"stream SHA-256 $sha differs from ${streamSha.get} of an earlier op"),
    ).flatten
    if (streamSha.isEmpty) streamSha = Some(sha)
    OpResult(wall, turnsPerOp, n, read, errs.headOption.map(_ => errs.mkString("; ")))
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    val out = work.resolve(s"warm-$round.sql")
    deleteTree(out)
    Main.run(spark, conf(out))
    deleteTree(out)
  }

  /** The renderers read every parsed column and the sink every rendered
    * one, so each cut consumes its layer's whole output.
    */
  def cuts(spark: SparkSession): Seq[(String, () => Unit)] = {
    def valid = Pipeline.filterValid(Pipeline.parse(read(spark)))
    Seq(
      "sources" -> (() => consume(read(spark), read(spark).columns.toSeq: _*)),
      "parse" -> (() => consume(valid, valid.columns.toSeq: _*)),
      "render" -> (() => consume(Pipeline.renderAllStatements(valid),
        "phase", "ord", "turn_idx", "stmt")),
      "sqlsink" -> (() => {
        seq += 1
        val out = work.resolve(s"cut-$seq.sql")
        Main.run(spark, conf(out))
        deleteTree(out)
      }))
  }

  override def finish(spark: SparkSession): (Seq[String], Map[String, Any]) =
    (Nil, Map("stream_sha256" -> streamSha.getOrElse("")))
}

/** Write path: turns land in ts order as small slices; each increment is
  * one Checkpoint.runIncrement into the (batch_id, sink) table + ledger.
  */
final class ResumeTail(p: Params) extends Workload {
  val turnsPerOp: Long = 0L
  private val sizes = p.longs("slice_sizes")
  private val sliceValid = p.longs("slice_valid")
  private val staging = Paths.get(p.s("layout_dir"))
  private val work = Paths.get(p.s("work_dir"))
  private var dir: Path = work.resolve("tail-init")
  private var next = 0
  private var nonEmpty = 0L
  private var committed = 0L
  private val bootErrors = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Rows each increment delivered. */
  val deliveredRows = scala.collection.mutable.ArrayBuffer.empty[Long]

  def landing: Path = dir.resolve("landing")
  def sink: Path = dir.resolve("sink")
  def ledger: Path = dir.resolve("ledger")

  /** Fresh landing, sink and ledger, then one untimed increment, so every
    * timed increment resumes from a committed watermark.
    */
  override def begin(spark: SparkSession, tag: String): Unit = {
    dir = work.resolve(s"tail-$tag")
    deleteTree(dir)
    Files.createDirectories(landing)
    next = 0
    nonEmpty = 0
    committed = 0
    bootErrors.clear()
    bootErrors ++= op(spark, new Calls(None)).error
    deliveredRows.clear()
  }

  override def hasNext: Boolean = next < sizes.size

  /** Deliver slice `next` into the landing directory (untimed). */
  private def deliver(): Unit = {
    val name = f"slice-$next%05d.parquet"
    val (from, to) = (staging.resolve(name), landing.resolve(name))
    try Files.createLink(to, from)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(from, to) }
  }

  private def increment(spark: SparkSession, call: Calls): Long = {
    val turns = call("sources.TranscriptTable.read")(
      TranscriptTable.read(spark, landing.toString))
    call("checkpoint.runIncrement")(Checkpoint.runIncrement(turns,
      Transcripts.toolDim(spark), sink.toString, ledger.toString))
  }

  def op(spark: SparkSession, call: Calls): OpResult = {
    deliver()
    deliveredRows += sizes(next)
    val (n, wall, read) = timed(increment(spark, call))
    val want = sliceValid(next)
    next += 1
    if (n > 0) nonEmpty += 1
    committed += n
    OpResult(wall, n, n, read, Option.when(n != want)(
      s"increment ${next - 1} committed $n rows, expected $want"))
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    begin(spark, s"warm-$round")
    op(spark, new Calls(None))
    deleteTree(dir)
  }

  /** Cuts over the last delivered slice, the rows one increment routes. The
    * increment writes every column, so each cut consumes all of them.
    */
  def cuts(spark: SparkSession): Seq[(String, () => Unit)] = {
    val slice = staging.resolve(f"slice-${next - 1}%05d.parquet").toString
    def read = TranscriptTable.read(spark, slice)
    def valid = Pipeline.filterValid(Pipeline.parse(read))
    def all(df: DataFrame): Unit = consume(df, df.columns.toSeq: _*)
    Seq(
      "sources" -> (() => all(read)),
      "parse" -> (() => all(valid)),
      "enrich" -> (() => all(Pipeline.enrich(valid, Transcripts.toolDim(spark)))))
  }

  /** Committed rows per increment whose tool had no dimension row (the
    * enrich left join's misses land in the `*_unknown` sinks), from the
    * read-back at the end of the phase.
    */
  var unmatched = 0.0

  def fileCount(p: Path): Long = files(p, ".parquet").size.toLong

  /** Read the sink and ledger back: per-sink counts (checked against the
    * oracle by run.py), one ledger row per non-empty increment, no turn
    * committed twice.
    */
  override def finish(spark: SparkSession): (Seq[String], Map[String, Any]) = {
    if (next == 0) return (Seq("no increment ran"), Map.empty)
    val ledgerRows = Checkpoint.committedBatches(spark, ledger.toString)
    val (perSink, total, distinct) =
      if (nonEmpty == 0) (Map.empty[String, Long], 0L, 0L)
      else {
        val back = spark.read.parquet(sink.toString)
        val per = back.groupBy(col("sink")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val d = back.select(col("conv_id"), col("turn_idx")).distinct().count()
        (per, per.values.sum, d)
      }
    val errs = bootErrors.toSeq ++ Seq(
      Option.when(ledgerRows != nonEmpty)(
        s"ledger has $ledgerRows rows for $nonEmpty non-empty increments"),
      Option.when(total != committed)(
        s"sink holds $total rows, increments reported $committed"),
      Option.when(distinct != total)(
        s"${total - distinct} turns committed more than once"),
    ).flatten
    unmatched = perSink.collect { case (k, n) if k.endsWith("_unknown") => n }
      .sum.toDouble / next
    (errs, Map("slices_delivered" -> next, "readback" -> perSink,
      "ledger_files" -> fileCount(ledger), "sink_files" -> fileCount(sink)))
  }
}
