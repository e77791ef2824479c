package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
  * - `--input-type json` reads a file/dir of turn records (the
  *   reference's `-input-type json`); `parquet` reads the table form.
  *   Both are read with the transcript schema
  *   (TranscriptStream.turnSchema), columns matched by name: a column it
  *   lacks is ignored, and a parquet column of another type (a BIGINT
  *   `turn_idx`) fails the run, naming the column. No schema is
  *   inferred, so the read runs no Spark job. `mongodb` is rejected with
  *   an explanation: a live oplog tail needs network egress this build
  *   doesn't assume — the streaming file tail (TranscriptStream) is the
  *   supported analog.
  * - `--output-type sql` appends the ordered statement stream to a text
  *   sink (reference W1, main.go:205-226); `db` executes it over JDBC in
  *   a transaction per batch, DDL strictly before DML (reference W2 with
  *   the swallowed-error bug fixed — JdbcSink). The DML-to-DB path runs
  *   single-writer in stream order because correctness of UPDATE-after-
  *   INSERT is order-dependent; table-shaped data at scale should use
  *   Checkpoint.commitBatch instead.
  * - `--ledger <dir>` enables resume on Checkpoint's file ledger: only
  *   the input files no ledger entry holds render, and each run that
  *   finds new files records them after its sink write (reference K1-K3,
  *   gob checkpoint at main.go:312-355). The input directory is
  *   append-only: a file written under a new name is new input.
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
    spark.read.schema(TranscriptStream.turnSchema).format(conf.inputType)
      .load(conf.input)

  /** One batch run; returns (statements emitted, turns dead-lettered: an
    * unknown op, a denied db, no namespace or a payload that is not a JSON
    * object). The count per reason goes to stderr.
    * With a ledger, only the files it has not seen run, and none new
    * means nothing renders. Session lifecycle belongs to the caller
    * (main() owns it; tests pass their shared session).
    */
  def run(spark: SparkSession, conf: Conf): (Long, Long) = {
    val turns = readTurns(spark, conf)
    conf.ledger match {
      case None => render(turns, conf)
      case Some(ledgerPath) =>
        Checkpoint.pending(turns, ledgerPath).fold((0L, 0L)) { inc =>
          val (n, rejects) = render(inc.turns, conf)
          Checkpoint.record(spark, ledgerPath, inc, n)
          (n, rejects)
        }
    }
  }

  private def render(turns: DataFrame, conf: Conf): (Long, Long) = {
    // pin the batch, parsed, admitted and tokenized once per turn: two
    // actions read it (the registry's fold and the sink write or JDBC run)
    // — the cache keeps them on one snapshot, and every branch of the
    // render DAG scans its columns instead of re-parsing the source
    val batch = Pipeline.tokenize(turns).cache()
    try {
      // one job builds the cache and folds it into the schema registry:
      // the dead letters by reason and, decided on the driver, the DDL.
      // Unknown-op guard (transformer.go:26-28): count + log, never crash;
      // a turn without a namespace (`INS nonamespace {…}`) dead-letters
      // too, and so does one whose payload is not a JSON object (`INS db.t
      // not-json`), which renders no DML.
      val reg = Pipeline.registry(batch)
      val nRejects = reg.deadLetters.map(_._2).sum
      if (nRejects > 0)
        System.err.println(s"[graft] dead-lettered $nRejects turns: " +
          reg.deadLetters.map { case (reason, k) => s"$reason $k" }.mkString(", "))

      // the render DAG executes exactly once per run, in the sink. Both
      // sinks write one partition in stream order, so the stream is
      // gathered into one partition and sorted there: a global sort would
      // first run a sampling job over the render branches to pick range
      // bounds for partitions that are merged anyway. The sort key is a
      // total order, so the stream is the same either way.
      val stmts = Pipeline.renderTokens(batch, reg).repartition(1)
        .sortWithinPartitions(col("phase"), col("ord"), col("turn_idx"), col("stmt"))
      val n = conf.outputType match {
        case "sql" =>
          // this run's emissions (the sink is append-only), observed
          // during the write rather than counted in a second pass
          val emitted = Observation()
          stmts.select(col("stmt"))
            .observe(emitted, count(lit(1)).as("n"))
            .write.mode("append").text(conf.output)
          emitted.get("n").asInstanceOf[Long]
        case _ =>
          // execution order equals stream order; the sink commits the
          // DDL phases before any DML runs
          JdbcSink.executeStatements(stmts, conf.output)
      }
      (n, nRejects)
    } finally batch.unpersist()
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
