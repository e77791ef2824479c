package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** One shared local session for the whole test run (suites run
  * sequentially; Test/parallelExecution := false).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** The suite's temp root, made by the first [[tempDir]]; it is
    * deleted, with all it holds, once the suite has run.
    */
  private var tempRoot: Option[Path] = None

  /** A new empty directory under the suite's temp root. */
  def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory("graft_suite")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try tempRoot.foreach(r => FileUtils.deleteDirectory(r.toFile))
    finally super.afterAll()

  /** Transcript-shaped fixture: (conv_id, turn_idx, role, text, tool, ts). */
  def turns(rows: (String, Int, String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  }

  def parsedValid(df: DataFrame): DataFrame =
    Pipeline.filterValid(Pipeline.parse(df))

  def stmtsOrdered(df: DataFrame): Seq[String] =
    df.orderBy("conv_id", "turn_idx").select("stmt")
      .collect().map(_.getString(0)).toSeq

  def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The query executions `body` runs, in order, each named by its action
    * (`count`, `collect`, `command` for a write …).
    */
  def queriesRun(body: => Any): Seq[String] = executionsRun(body).map(_._1)

  /** The query executions `body` runs, in order, with their names. */
  def executionsRun(body: => Any): Seq[(String, QueryExecution)] = {
    val seen = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      private def note(func: String, qe: QueryExecution): Unit =
        seen.put((qe.analyzed.output.headOption.map(_.name)
          .filter(_.startsWith("marker_")).getOrElse(func), qe))
      def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        note(func, qe)
      def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        note(func, qe)
    }
    spark.listenerManager.register(listener)
    try untilMarkers(seen, (tag: String) =>
      spark.sql(s"SELECT 1 AS marker_$tag").collect())(_._1)(body)
    finally spark.listenerManager.unregister(listener)
  }

  /** The number of Spark jobs `body` runs — every job, also those no
    * query execution reports (parquet schema inference, a broadcast).
    */
  def jobsRun(body: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        seen.put(Option(job.properties).flatMap(p => Option(p.getProperty("marker")))
          .getOrElse("job"))
    }
    // the marker is a one-task job, tagged through a local property
    def marker(tag: String): Unit = {
      sc.setLocalProperty("marker", s"marker_$tag")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("marker", null)
    }
    sc.addSparkListener(listener)
    try untilMarkers(seen, marker)(identity)(body).size
    finally sc.removeSparkListener(listener)
  }

  /** What a listener put into `seen` while `body` ran. Listener events
    * arrive asynchronously but in order: once a marker run after `body`
    * arrives, everything `body` ran has been seen. `marker(tag)` must
    * make the listener see an event that `name`s `marker_<tag>`.
    */
  private def untilMarkers[T](seen: LinkedBlockingQueue[T], marker: String => Unit)(
      name: T => String)(body: => Any): Seq[T] = {
    def untilMarker(tag: String): Seq[T] = {
      marker(tag)
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
        .getOrElse(fail(s"marker_$tag never arrived")))
        .takeWhile(e => name(e) != s"marker_$tag").toSeq
    }
    untilMarker("before")
    body
    untilMarker("after")
  }
}
