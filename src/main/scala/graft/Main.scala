package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Checkpoint, JdbcSink, Pipeline}
import graft.streaming.TranscriptStream

/** CLI driver — the analog of the reference's `main.go` entry point
  * (flags at /root/reference/main.go:153-203; dataflow at :39-107):
  * read a turn log, parse/filter, synthesize the full DDL+DML statement
  * stream, fan it to a sink, checkpoint for resume, drain on shutdown.
  *
  *   spark-submit --class graft.Main <jar> \
  *     --input <path> [--input-type json|parquet] \
  *     --output <path | jdbc-url> [--output-type sql|db] \
  *     [--ledger <dir>] [--master local[*]]
  *
  * - `--input-type json` reads a file/dir of turn records with the
  *   transcript schema (the reference's `-input-type json`); `parquet`
  *   reads the table form. `mongodb` is rejected with an explanation:
  *   a live oplog tail needs network egress this build doesn't assume —
  *   the streaming file tail (TranscriptStream) is the supported analog.
  * - `--output-type sql` appends the ordered statement stream to a text
  *   sink (reference W1, main.go:205-226); `db` executes it over JDBC in
  *   a transaction per batch, DDL strictly before DML (reference W2 with
  *   the swallowed-error bug fixed — JdbcSink). The DML-to-DB path runs
  *   single-writer in stream order because correctness of UPDATE-after-
  *   INSERT is order-dependent; table-shaped data at scale should use
  *   Checkpoint.commitBatch / JdbcSink.append instead.
  * - `--ledger` enables resume: only turns with ts past the committed
  *   watermark render (reference K1-K3, gob checkpoint at main.go:312-355
  *   — ours is exactly-once per batch instead of at-least-once).
  */
object Main {

  final case class Conf(input: String, inputType: String, output: String,
                        outputType: String, ledger: Option[String],
                        master: String)

  private val knownFlags =
    Set("input", "output", "input-type", "output-type", "ledger", "master")

  def parseArgs(args: Array[String]): Either[String, Conf] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          val name = flag.stripPrefix("--")
          if (!knownFlags.contains(name)) return Left(s"unknown flag: $flag")
          m(name) = args(i + 1); i += 2
        case other => return Left(s"unexpected argument: $other")
      }
    }
    val inputType = m.getOrElse("input-type", "json")
    val outputType = m.getOrElse("output-type", "sql")
    if (inputType == "mongodb")
      return Left("--input-type mongodb needs a live oplog connection " +
        "(network egress); use the streaming file tail " +
        "(graft.streaming.TranscriptStream) or json/parquet input")
    if (!Set("json", "parquet").contains(inputType))
      return Left(s"unknown --input-type $inputType (json|parquet)")
    if (!Set("sql", "db").contains(outputType))
      return Left(s"unknown --output-type $outputType (sql|db)")
    (m.get("input"), m.get("output")) match {
      case (Some(in), Some(out)) =>
        Right(Conf(in, inputType, out, outputType, m.get("ledger"),
          m.getOrElse("master", "local[*]")))
      case _ => Left("--input and --output are required")
    }
  }

  def readTurns(spark: SparkSession, conf: Conf): DataFrame =
    conf.inputType match {
      case "json" =>
        spark.read.schema(TranscriptStream.turnSchema).json(conf.input)
      case _ => spark.read.parquet(conf.input)
    }

  /** One batch run; returns (statements emitted, rejects dead-lettered).
    * Session lifecycle belongs to the caller (main() owns it; tests pass
    * their shared session).
    */
  def run(spark: SparkSession, conf: Conf): (Long, Long) = {
    val turns = readTurns(spark, conf)
    // pin the batch: several actions follow (reject count, statement count,
    // sink write, watermark agg) — the cache keeps them on one snapshot and
    // stops the render DAG executing once per action
    val fresh = conf.ledger.fold(turns)(Checkpoint.pastWatermark(turns, _))
      .cache()
    try {
      val parsed = Pipeline.parse(fresh)
      val valid = Pipeline.filterValid(parsed)
      // unknown-op guard (transformer.go:26-28): count + log, never crash
      val nRejects = Pipeline.rejects(parsed).count()
      if (nRejects > 0)
        System.err.println(s"[graft] dead-lettered $nRejects unknown-op/denied-db turns")

      val stmts = Pipeline.renderAllStatements(valid)
        .orderBy(col("phase"), col("ord"), col("turn_idx"), col("stmt"))
      val n = conf.outputType match {
        case "sql" =>
          val out = stmts.select(col("stmt")).coalesce(1)
          val n = out.count() // this run's emissions (the sink is append-only)
          out.write.mode("append").text(conf.output)
          n
        case _ =>
          // DDL strictly before DML; single ordered partition per phase so
          // execution order equals stream order inside the transaction
          val ddl = stmts.filter(col("phase") < 3)
            .orderBy(col("phase"), col("ord"), col("stmt")).coalesce(1)
          val dml = stmts.filter(col("phase") === 3)
            .orderBy(col("ord"), col("turn_idx"), col("stmt")).coalesce(1)
          JdbcSink.executeStatements(ddl, conf.output) +
            JdbcSink.executeStatements(dml, conf.output)
      }

      conf.ledger.foreach { ledgerPath =>
        Checkpoint.commitBatch(fresh, ledgerPath,
          Checkpoint.committedBatches(spark, ledgerPath))
      }
      (n, nRejects)
    } finally fresh.unpersist()
  }

  def main(args: Array[String]): Unit =
    parseArgs(args) match {
      case Left(err) =>
        System.err.println(s"[graft] $err")
        sys.exit(2)
      case Right(conf) =>
        val spark = GraftSession.create(conf.master)
        TranscriptStream.installShutdownHook(spark)
        try {
          val (n, rejects) = run(spark, conf)
          println(s"[graft] emitted $n statements (${rejects} dead-lettered)")
        } finally spark.stop()
    }
}
