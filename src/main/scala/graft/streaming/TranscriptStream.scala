package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Checkpoint, Pipeline}

/** Structured Streaming variant of the pipeline — the direct analog of the
  * reference's tailing mode (oplog cursor → channels → transform → sink,
  * /root/reference/database/mongodb/mongo.go:31-77 + main.go:84-107), with
  * Spark-native checkpointing in place of the hand-rolled gob state
  * (/root/reference/constants/global_variable.go:11-62).
  */
object TranscriptStream {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-source stream of transcript turns (new parquet files under
    * `inputDir` are discovered per micro-batch — the oplog-tail analog).
    */
  def readTurns(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(turnSchema).parquet(inputDir)

  /** parse→filter→enrich→route over a streaming DF (same operators as
    * batch — they are all narrow, so they lift to streaming unchanged).
    */
  def routed(turns: DataFrame, toolDim: DataFrame): DataFrame =
    Pipeline.route(Pipeline.enrich(
      Pipeline.filterValid(Pipeline.parse(turns)), toolDim))

  /** Routing stream with exactly-once sinks: foreachBatch commits each
    * micro-batch idempotently (overwrite-by-batch-id, Checkpoint analog of
    * an Iceberg snapshot commit). The resume record is Spark's own:
    * the file source's seen-files log and the offset log under
    * `checkpointDir` (reference K1-K3), the streaming form of Checkpoint's
    * file ledger.
    */
  def startRouting(turns: DataFrame, toolDim: DataFrame, sinkPath: String,
                   checkpointDir: String): StreamingQuery =
    routed(turns, toolDim).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // commit even an empty micro-batch (0 rows under its batch id): an
        // isEmpty check would be a second job re-reading and re-parsing it
        Checkpoint.commitBatch(batch, sinkPath, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  // ------------------------------------------------------------- lifecycle

  /** Graceful-shutdown drain (reference K4 — the SIGINT/SIGTERM handler at
    * /root/reference/main.go:60-81 cancels the context, saves the
    * checkpoint and gives consumers 5s to drain): stop every active
    * streaming query so no micro-batch is torn mid-commit. Resume after a
    * drain (or a hard kill) is safe because sink commits are idempotent
    * (Checkpoint overwrite-by-batch-id) and offsets live in the
    * checkpointLocation — StreamingSpec's kill-resume test proves no dupes.
    */
  def drain(spark: SparkSession): Unit =
    spark.streams.active.foreach { q =>
      try q.stop()
      catch { case _: java.util.concurrent.TimeoutException => () }
    }

  /** Install the JVM shutdown hook — the signal-handler analog (a SIGTERM
    * to the JVM runs shutdown hooks). Returns the hook thread so tests can
    * exercise it directly: a test cannot safely signal its own JVM.
    */
  def installShutdownHook(spark: SparkSession): Thread = {
    val hook = new Thread(() => drain(spark), "graft-stream-drain")
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }
}
