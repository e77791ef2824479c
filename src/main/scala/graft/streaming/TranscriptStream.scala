package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
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
        if (!batch.isEmpty) Checkpoint.commitBatch(batch, sinkPath, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Event-time windowed per-sink counts with a watermark: late turns
    * beyond 10 minutes are dropped; append mode emits only finalized
    * windows.
    */
  def windowedSinkCounts(turns: DataFrame, toolDim: DataFrame,
                         watermark: String = "10 minutes"): DataFrame =
    routed(turns, toolDim)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("sink"), col("n"))

  /** Stream-stream join: turns against a live tool-status stream, matched
    * within a 1-hour validity interval — both sides watermarked so join
    * state is bounded (Spark buffers only rows inside the watermark
    * horizon). The batch enrich (driver-built dim lookup) is the static analog; this
    * is its streaming-metadata form.
    */
  def streamStreamEnrich(turns: DataFrame, toolStatus: DataFrame): DataFrame = {
    val t = turns.withWatermark("ts", "10 minutes")
    val m = toolStatus
      .select(col("tool").as("mtool"), col("status"), col("mts"))
      .withWatermark("mts", "10 minutes")
    t.join(m,
      t("tool") === m("mtool") &&
        m("mts") <= t("ts") &&
        m("mts") >= t("ts") - expr("INTERVAL 1 HOUR"))
      .drop("mtool")
  }

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

  // ----------------------------------------------------- stateful sessions

  case class TurnEvent(conv_id: String, turn_idx: Int, ts: Timestamp)
  case class ConvState(nTurns: Long, lastTurn: Int)
  case class ConvUpdate(conv_id: String, n_turns: Long, last_turn: Int)

  /** Replay dedup: an at-least-once upstream (the reference's resume
    * semantics, $gte at mongo.go:89-91, replays in-flight records) becomes
    * exactly-once-per-turn by keying on (conv_id, turn_idx) within the
    * watermark horizon — state is bounded by the watermark, not corpus
    * size.
    */
  def dedupedTurns(turns: DataFrame,
                   watermark: String = "10 minutes"): DataFrame =
    turns.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  case class SessionOut(conv_id: String, n_turns: Long, closed: Boolean)

  /** Event-time session windows with timeout: a conversation's session
    * closes when its event time falls 30 min behind the stream watermark —
    * flatMapGroupsWithState + EventTimeTimeout, emitting a final row per
    * closed session (the stateful-streaming tier of SURVEY.md §2.7).
    */
  def eventTimeSessions(spark: SparkSession, turns: DataFrame)
      : Dataset[SessionOut] = {
    import spark.implicits._
    turns.withWatermark("ts", "10 minutes")
      .select(col("conv_id"), col("turn_idx"), col("ts")).as[TurnEvent]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (convId: String, events: Iterator[TurnEvent],
         state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val out = SessionOut(convId, state.get.nTurns, closed = true)
            state.remove()
            Iterator.single(out)
          } else {
            val evs = events.toSeq
            val prev = state.getOption.getOrElse(ConvState(0L, -1))
            val next = ConvState(prev.nTurns + evs.size,
              math.max(prev.lastTurn, evs.map(_.turn_idx).max))
            state.update(next)
            val maxEventMs = evs.map(_.ts.getTime).max
            state.setTimeoutTimestamp(maxEventMs + 30 * 60 * 1000)
            Iterator.empty
          }
      }
  }

  /** Custom per-conversation state via mapGroupsWithState — the streaming
    * analog of the reference's per-namespace serial consumer state
    * (/root/reference/main.go:49-58): running turn count + last turn index
    * per conv_id, emitted each micro-batch in Update mode.
    */
  def sessionState(spark: SparkSession, turns: DataFrame): Dataset[ConvUpdate] = {
    import spark.implicits._
    turns.select(col("conv_id"), col("turn_idx"), col("ts")).as[TurnEvent]
      .groupByKey(_.conv_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (convId: String, events: Iterator[TurnEvent], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, -1))
          val evs = events.toSeq
          val next = ConvState(prev.nTurns + evs.size,
            math.max(prev.lastTurn, if (evs.isEmpty) -1 else evs.map(_.turn_idx).max))
          state.update(next)
          ConvUpdate(convId, next.nTurns, next.lastTurn)
      }
  }
}
