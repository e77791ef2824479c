package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. run.py builds the program, generates the
  * inputs and the oracle answers, and starts this with a parameter file:
  *
  *   java -cp <classpath> perfbench.PerfBench <params.properties>
  *
  * It sets up the session (three times, for a steady `setup_s`), runs the
  * workload closed-loop with one client for the requested seconds, checks every operation's output and
  * writes a result file that run.py turns into the result line. With
  * trace=1 it instead runs the traced protocol and reports the per-layer
  * metrics.
  */
object PerfBench {

  /** Set-up rounds of an untraced run; a traced run needs only the warm-up. */
  val SetupRounds = 3
  /** Fewest timed operations per measured phase, whatever the seconds. */
  val MinOps = 2

  final case class Loop(ops: Seq[OpResult]) {
    def walls: Seq[Double] = ops.map(_.wallS)
    def failed: Int = ops.count(_.error.isDefined)
    def errors: Seq[String] = ops.flatMap(_.error)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Closed loop, one client: the next operation starts when the previous
    * one has finished. Runs for `seconds`, at least `minOps` operations and
    * at most `maxOps`, while the workload has input left.
    */
  def loop(w: Workload, spark: SparkSession, call: Calls, seconds: Double,
           minOps: Int, maxOps: Int = Int.MaxValue): Loop = {
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (w.hasNext && ops.size < maxOps &&
      (ops.size < minOps || elapsed < seconds)) {
      ops += attempt(w.op(spark, call))
    }
    Loop(ops.toSeq)
  }

  /** Turns per operation (mean over the checked ones) ÷ median wall. */
  def turnsPerS(l: Loop): Double = {
    val ok = l.ops.filter(_.error.isEmpty)
    if (ok.isEmpty) 0.0
    else ok.map(_.turnsIn).sum.toDouble / ok.size / median(l.walls)
  }

  /** An operation that throws counts as a failed one. */
  def attempt(f: => OpResult): OpResult =
    try f
    catch { case e: Exception =>
      OpResult(0.0, 0L, 0L, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** (total, steal) jiffies of the aggregate cpu line of /proc/stat. */
  def procCpu(): (Double, Double) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
      (f.sum, if (f.length > 7) f(7) else 0.0)
    } finally src.close()
  }

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
  }

  /** Bytes this JVM has read through read system calls (rchar). Spark's
    * own input metric misses the column chunks, which the parquet reader
    * fetches with vectored reads on other threads.
    */
  def readBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("rchar:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(p: Params, cores: Int): SparkSession = {
    val work = Paths.get(p.s("work_dir"))
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val p = Params(props)
    val cores = p.i("cores")
    val seconds = p.s("seconds").toDouble
    val trace = p.i("trace") == 1
    val w = Workload(p)
    val out = mutable.LinkedHashMap.empty[String, Any]
    Files.createDirectories(Paths.get(p.s("work_dir")))

    // ---- set-up: session + function registration + warm-up, repeated
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to (if (trace) 1 else SetupRounds)).foreach { r =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(p, cores)
      w.warmup(spark, r)
      setups += (System.nanoTime() - t0) / 1e9
    }
    out("setup_s_samples") = setups.toSeq

    val load0 = loadAvg1()
    val (cpu0, steal0) = procCpu()
    val (metrics, attempted, failed, errors) =
      if (!trace) untraced(p, w, spark, seconds, setups.toSeq, out)
      else traced(p, w, spark, cores, seconds, out)
    val (cpu1, steal1) = procCpu()
    out("steal_pct") = if (cpu1 > cpu0) 100.0 * (steal1 - steal0) / (cpu1 - cpu0) else 0.0
    out("loadavg_start") = load0
    out("loadavg_end") = loadAvg1()
    if (trace) {
      metrics("host.steal_pct") = (out("steal_pct").asInstanceOf[Double], "%")
      metrics("host.loadavg_1m") = (load0, "count")
    }
    stop(spark)
    // G1 decides how much old-generation garbage the heap holds, which made
    // the peak too unsteady across runs to bound (see perfbench/README.md)
    if (trace) metrics("engine.peak_rss_mb") = (peakRssMb(), "MB")
    else out("peak_rss_mb") = peakRssMb()

    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.distinct.take(5)
    out("metrics") = metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }.toMap
    val res = Paths.get(p.s("result_path"))
    Files.writeString(res, Json.obj(out.toSeq))
  }

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** Phase facts run.py checks against the oracle after the run. */
  def record(out: mutable.Map[String, Any], facts: Seq[Map[String, Any]]): Unit = {
    val readbacks = facts.filter(_.contains("readback"))
    if (readbacks.nonEmpty) out("readbacks") = readbacks
    facts.flatMap(_.get("stream_sha256")).headOption
      .foreach(sha => out("stream_sha256") = sha)
  }

  /** End-to-end metrics, tracing off. */
  def untraced(p: Params, w: Workload, spark: SparkSession, seconds: Double,
               setups: Seq[Double], out: mutable.Map[String, Any])
      : (Metrics, Int, Int, Seq[String]) = {
    w.begin(spark, "main")
    val l = loop(w, spark, new Calls(None), seconds, MinOps)
    val (finErrs, facts) = w.finish(spark)
    record(out, Seq(facts))
    out("op_walls") = l.walls
    val m: Metrics = mutable.LinkedHashMap.empty
    val ok = l.ops.filter(_.error.isEmpty)
    m("setup_s") = (median(setups), "s")
    m("turns_per_s") = (turnsPerS(l), "1/s")
    m("op_p50_s") = (quantile(l.walls, 0.5), "s")
    w match {
      case _: RenderSql =>
        out("statements_per_s") = ok.headOption.map(_.outputs).getOrElse(0L) /
          median(l.walls)
      case _ =>
    }
    val failed = if (finErrs.nonEmpty) l.ops.size else l.failed
    (m, l.ops.size, failed, l.errors ++ finErrs)
  }

  /** Per-layer metrics: untraced and traced operations in alternation
    * (their throughput ratio is the tracing overhead), then prefix cuts that
    * give each layer's self time.
    */
  def traced(p: Params, w: Workload, spark0: SparkSession, cores: Int,
             seconds: Double, out: mutable.Map[String, Any])
      : (Metrics, Int, Int, Seq[String]) = {
    var spark = spark0
    val third = seconds / 3
    val m: Metrics = mutable.LinkedHashMap.empty
    val sc = spark.sparkContext

    val listener = new EngineListener
    val tracer = new Tracer(sc, p.s("run_id"))
    /** Listener attached only while `f` runs, and drained before removal. */
    def listening[A](f: => A): A = {
      sc.addSparkListener(listener)
      try f finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    }

    // untraced and traced operations alternate within one phase, so both
    // see the same JVM warmth and (resume_tail) the same growing tail
    w.begin(spark, "phase")
    val uOps = mutable.ArrayBuffer.empty[OpResult]
    val tOps = mutable.ArrayBuffer.empty[OpResult]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val p0 = System.nanoTime()
    while (w.hasNext &&
      (uOps.size < MinOps || (System.nanoTime() - p0) / 1e9 < 2 * third)) {
      uOps += attempt(w.op(spark, new Calls(None)))
      if (w.hasNext) {
        val (r, s) = listening(tracer.span("op")(
          attempt(w.op(spark, new Calls(Some(tracer))))))
        tOps += r
        opSpans += s
      }
    }
    val (finErrs, facts) = w.finish(spark)
    record(out, Seq(facts))
    val u = Loop(uOps.toSeq)
    val t = Loop(tOps.toSeq)

    val cutRounds = mutable.ArrayBuffer.empty[Seq[(String, Span)]]
    val cuts = w.cuts(spark)
    if (cuts.nonEmpty) listening {
      val c0 = System.nanoTime()
      while (cutRounds.isEmpty || (System.nanoTime() - c0) / 1e9 < third) {
        val (round, _) = tracer.span("cuts")(
          cuts.map { case (name, f) => name -> tracer.span(name)(f())._2 })
        cutRounds += round
      }
    }

    val uTps = turnsPerS(u)
    val tTps = turnsPerS(t)
    m("trace.untraced_turns_per_s") = (uTps, "1/s")
    m("trace.traced_turns_per_s") = (tTps, "1/s")
    m("trace.overhead_frac") = ((uTps - tTps) / uTps, "ratio")

    // ---- per-op work of the traced full operations
    val nOps = math.max(1, t.ops.size).toDouble
    val groupsOf = (ss: Seq[Span]) => ss.map(s => tracer.group(s.id)).toSet
    val descendants = (root: Span) => {
      val ids = mutable.Set(root.id)
      tracer.spans.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
      tracer.spans.filter(s => ids(s.id)).toSeq
    }
    val opJobs = opSpans.toSeq.flatMap(s => listener.jobsIn(groupsOf(descendants(s))))
    val opWork = listener.work(opJobs)
    val opWall = t.walls.sum
    m("engine.jobs") = (opWork.jobs / nOps, "count")
    m("engine.tasks") = (opWork.tasks / nOps, "count")
    m("engine.task_s") = (opWork.taskS / nOps, "s")
    m("engine.cpu_busy_frac") = (opWork.cpuS / math.max(1e-9, opWall * cores), "ratio")
    m("engine.gc_s") = (opWork.gcS / nOps, "s")
    m("engine.sched_delay_s") = (opWork.schedDelayS / nOps, "s")

    // ---- self time per layer from the prefix cuts: cut k minus cut k-1
    val selfS: Map[String, Double] =
      if (cutRounds.isEmpty) Map.empty
      else {
        val names = cutRounds.head.map(_._1)
        names.zipWithIndex.map { case (n, k) =>
          n -> median(cutRounds.toSeq.map { r =>
            r(k)._2.seconds - (if (k == 0) 0.0 else r(k - 1)._2.seconds)
          })
        }.toMap
      }
    val cutWork = (name: String) => listener.work(cutRounds.toSeq.flatMap(r =>
      listener.jobsIn(groupsOf(descendants(r.find(_._1 == name).get._2)))))
    val perRound = math.max(1, cutRounds.size).toDouble

    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    val okOps = t.ops.filter(_.error.isEmpty)
    val meanOut = if (okOps.isEmpty) 0.0 else okOps.map(_.outputs).sum.toDouble / okOps.size

    w match {
      case r: RouteBulk =>
        put("sources.scan_s", selfS.getOrElse("sources", 0.0), "s")
        put("sources.bytes_read", median(t.ops.map(_.readBytes.toDouble)), "bytes")
        put("sources.rows_read", opWork.inRecords / nOps, "count")
        put("sources.read_amplification", opWork.inRecords / nOps / r.turnsPerOp, "ratio")
        put("parse.self_s", selfS.getOrElse("parse", 0.0), "s")
        put("parse.rows_in", r.turnsPerOp.toDouble, "count")
        put("parse.rows_admitted", meanOut, "count")
        put("parse.admit_ratio", meanOut / r.turnsPerOp, "ratio")
        put("enrich.self_s", selfS.getOrElse("enrich", 0.0), "s")
        put("enrich.unmatched_rows", r.unmatched.toDouble, "count")
        put("route.self_s", selfS.getOrElse("route", 0.0), "s")
        put("route.shuffle_bytes", opWork.shuffleBytes / nOps, "bytes")
        put("route.shuffle_records", opWork.shuffleRecords / nOps, "count")
      case r: RenderSql =>
        val rw = cutWork("render")
        put("sources.scan_s", selfS.getOrElse("sources", 0.0), "s")
        put("sources.bytes_read", median(t.ops.map(_.readBytes.toDouble)), "bytes")
        put("sources.rows_read", opWork.inRecords / nOps, "count")
        put("sources.read_amplification", opWork.inRecords / nOps / r.turnsPerOp, "ratio")
        // Main.run dead-letters the turns filterValid rejects
        val admitted = (r.turnsPerOp - r.lastRejects).toDouble
        put("parse.self_s", selfS.getOrElse("parse", 0.0), "s")
        put("parse.rows_in", r.turnsPerOp.toDouble, "count")
        put("parse.rows_admitted", admitted, "count")
        put("parse.admit_ratio", admitted / r.turnsPerOp, "ratio")
        put("render.self_s", selfS.getOrElse("render", 0.0), "s")
        put("render.statements", meanOut, "count")
        put("render.ddl_statements", r.lastDdl.toDouble, "count")
        put("render.shuffle_bytes", rw.shuffleBytes / perRound, "bytes")
        put("render.spill_bytes", rw.spillBytes / perRound, "bytes")
        put("render.stages", rw.stages / perRound, "count")
        put("sqlsink.self_s", selfS.getOrElse("sqlsink", 0.0), "s")
        put("sqlsink.bytes_written", r.lastBytes.toDouble, "bytes")
        put("sqlsink.serial_frac", median(opSpans.toSeq.map(s =>
          listener.serialFrac(s, listener.jobsIn(groupsOf(descendants(s)))))), "ratio")
      case r: ResumeTail =>
        // charge each job to the program function on its call site
        val byFrame = opJobs.groupBy(_.programFrame)
        def frameS(f: String) = byFrame.getOrElse(f, Nil).map(_.seconds).sum / nOps
        val ownJobs = byFrame.getOrElse("graft.operators.Checkpoint$.runIncrement", Nil)
        val own = listener.work(ownJobs)
        // untraced and traced increments alike: delivered vs committed rows
        val phaseOk = (u.ops ++ t.ops).filter(_.error.isEmpty)
        val newRows = phaseOk.map(_.outputs).sum.toDouble / math.max(1, phaseOk.size)
        val delivered = r.deliveredRows.sum.toDouble / math.max(1, r.deliveredRows.size)
        put("sources.scan_s", selfS.getOrElse("sources", 0.0), "s")
        put("sources.rows_read", own.inRecords / nOps, "count")
        put("sources.bytes_read", median(t.ops.map(_.readBytes.toDouble)), "bytes")
        put("sources.read_amplification", own.inRecords / nOps / math.max(1.0, newRows), "ratio")
        put("parse.self_s", selfS.getOrElse("parse", 0.0), "s")
        put("parse.rows_in", delivered, "count")
        put("parse.rows_admitted", newRows, "count")
        put("parse.admit_ratio", newRows / math.max(1.0, delivered), "ratio")
        put("enrich.self_s", selfS.getOrElse("enrich", 0.0), "s")
        put("enrich.unmatched_rows", r.unmatched, "count")
        put("route.self_s", own.jobS / nOps, "s")
        put("route.shuffle_bytes", own.shuffleBytes / nOps, "bytes")
        put("route.shuffle_records", own.shuffleRecords / nOps, "count")
        put("checkpoint.watermark_s", frameS("graft.operators.Checkpoint$.lastWatermark"), "s")
        put("checkpoint.batch_count_s", frameS("graft.operators.Checkpoint$.committedBatches"), "s")
        put("checkpoint.commit_s", frameS("graft.operators.Checkpoint$.commitBatch"), "s")
        put("checkpoint.jobs_per_increment", opJobs.size / nOps, "count")
        val fc = (k: String) => facts.get(k).map(_.toString.toDouble).getOrElse(0.0)
        put("checkpoint.ledger_files", fc("ledger_files") / nOps, "count")
        put("checkpoint.sink_files", fc("sink_files") / nOps, "count")
        put("checkpoint.rows_committed", newRows, "count")
        out("job_frames") = byFrame.map { case (k, js) => k -> js.size }
    }

    // ---- single-thread baseline for scaling: one stateless job at local[1]
    val singleCore = !w.isInstanceOf[ResumeTail]
    if (singleCore) {
      stop(spark)
      spark = session(p, 1)
      val one = loop(w, spark, new Calls(None), 0.0, 1, 1)
      put("engine.single_core_turns_per_s", w.turnsPerOp / one.walls.head, "1/s")
    }

    val spansPath = Paths.get(p.s("spans_path"))
    tracer.writeJsonl(spansPath)
    out("spans_file") = spansPath.toString
    out("spans") = tracer.spans.size

    val attempted = u.ops.size + t.ops.size
    val errs = u.errors ++ t.errors ++ finErrs
    val failed = if (finErrs.nonEmpty) attempted else u.failed + t.failed
    if (singleCore) stop(spark)
    (m, attempted, failed, errs)
  }
}
