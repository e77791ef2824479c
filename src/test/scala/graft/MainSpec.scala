package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, lit}
import graft.functions.{JsonKvRaw, ParseTurn, ValidTurn}
import graft.streaming.TranscriptStream

/** The CLI driver end-to-end (reference main.go analog): json turn log in,
  * ordered DDL+DML statement stream out, ledger-gated resume, flag
  * validation, and the full-stream assembly convention.
  */
class MainSpec extends SparkSuite {

  private def tmp(): String = tempDir("graft_main").toString

  private val T1 = "2024-01-01 10:00:00"
  private val T2 = "2024-01-02 10:00:00"

  private val day1 = Seq(
    ("c1", 1, "user",
      """INS shop.orders {"_id":"o1","total":9.5,"tags":["a","b"]}""",
      "tool_0", T1),
    ("c1", 2, "assistant",
      """UPD shop.orders {"_id":"o1","diff":{"u":{"total":11.5}}}""",
      "tool_0", T1),
    ("c1", 3, "system", "SYS shop.orders {}", "tool_0", T1))
  private val day2 =
    Seq(("c2", 1, "tool", """DEL shop.orders {"_id":"o1"}""", "tool_0", T2))

  private def writeInput(dir: String, upToDay2: Boolean): Unit =
    turns(day1 ++ (if (upToDay2) day2 else Nil): _*)
      .write.mode("overwrite").json(dir)

  /** Land `rows` as a new file beside the input already in `dir`. */
  private def appendInput(dir: String,
                          rows: (String, Int, String, String, String, String)*): Unit =
    turns(rows: _*).write.mode("append").json(dir)

  private def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq

  test("flag validation mirrors main.go:153-203 (mongodb rejected with reason)") {
    assert(Main.parseArgs(Array("--input", "x")).isLeft)
    assert(Main.parseArgs(Array("--input", "x", "--output", "y",
      "--input-type", "mongodb")).swap.exists(_.contains("egress")))
    assert(Main.parseArgs(Array("--input", "x", "--output", "y",
      "--output-type", "nope")).isLeft)
    // a misspelt flag is an error, not a silently ignored option
    assert(Main.parseArgs(Array("--input", "x", "--output", "y",
      "--ledgr", "l")) == Left("unknown flag: --ledgr"))
    val ok = Main.parseArgs(Array("--input", "in", "--output", "out",
      "--ledger", "l", "--master", "local[2]"))
    assert(ok == Right(Main.Conf("in", "json", "out", "sql", Some("l"), "local[2]")))
  }

  test("json -> sql file: full ordered DDL+DML stream, dead letters counted") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true)
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      None, "local[4]")
    val (n, rejects) = Main.run(spark, conf)
    assert(rejects == 1) // the SYS turn dead-letters, never crashes
    val got = spark.read.text(s"$base/out.sql").collect().map(_.getString(0)).toSeq
    assert(n == got.length.toLong)
    assert(got == Seq(
      "CREATE SCHEMA IF NOT EXISTS shop;",
      "CREATE TABLE IF NOT EXISTS shop.orders (_id VARCHAR(255) PRIMARY KEY, total FLOAT);",
      "CREATE TABLE IF NOT EXISTS shop.orders_tags (_id VARCHAR(255) PRIMARY KEY, " +
        "orders__id VARCHAR(255), value VARCHAR(255));",
      "INSERT INTO shop.orders (_id, total) VALUES ('o1', 9.5);",
      s"INSERT INTO shop.orders_tags (_id, orders__id, value) " +
        s"VALUES ('${sha256hex("o1|orders_tags|0")}', 'o1', 'a');",
      s"INSERT INTO shop.orders_tags (_id, orders__id, value) " +
        s"VALUES ('${sha256hex("o1|orders_tags|1")}', 'o1', 'b');",
      "UPDATE shop.orders SET total = 11.5 WHERE _id = 'o1';",
      "DELETE FROM shop.orders WHERE _id = 'o1';"))
  }

  test("ledger resume: second run is a no-op; later data appends only the delta") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = false)
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      Some(s"$base/ledger"), "local[4]")
    Main.run(spark, conf)
    val after1 = spark.read.text(s"$base/out.sql").count()

    Main.run(spark, conf) // same input again — every file is in the ledger
    val after2 = spark.read.text(s"$base/out.sql").count()
    assert(after2 == after1, "resume replayed already-committed turns")

    appendInput(s"$base/in", day2: _*) // day-2 DELETE arrives as a new file
    Main.run(spark, conf)
    val got = spark.read.text(s"$base/out.sql").collect().map(_.getString(0))
    // the delta batch re-emits ITS OWN DDL (CREATE SCHEMA for the schema it
    // touches) — matching the reference on restart, whose in-memory
    // registry is lost and whose DDL is IF-NOT-EXISTS idempotent
    // (transformer.go:62-67, registry constants/config_manager.go) — plus
    // exactly the one new DML statement
    assert(got.length == after1 + 2)
    assert(got.takeRight(2).toSeq == Seq(
      "CREATE SCHEMA IF NOT EXISTS shop;",
      "DELETE FROM shop.orders WHERE _id = 'o1';"))
  }

  /** Run `conf` over its input, land `late` as a new file, run twice
    * more; returns the statements the later runs added.
    */
  private def addedAfter(conf: Main.Conf,
                         late: (String, Int, String, String, String, String)): Seq[String] = {
    Main.run(spark, conf)
    val before = lines(conf.output)
    appendInput(conf.input, late)
    Main.run(spark, conf)
    Main.run(spark, conf) // replay: nothing new
    lines(conf.output).diff(before)
  }

  test("ledger resume: a turn tying the committed max ts, in a later file, renders once") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = false) // every turn at T1
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      Some(s"$base/ledger"), "local[4]")
    val added = addedAfter(conf,
      ("c2", 1, "tool", """DEL shop.orders {"_id":"o1"}""", "tool_0", T1))
    assert(added.sorted == Seq(
      "CREATE SCHEMA IF NOT EXISTS shop;",
      "DELETE FROM shop.orders WHERE _id = 'o1';"))
  }

  test("ledger resume: a late file, every ts below the committed max, renders once") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true) // committed max is T2
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      Some(s"$base/ledger"), "local[4]")
    val added = addedAfter(conf,
      ("c0", 9, "tool", """DEL shop.orders {"_id":"o0"}""", "tool_0", T1))
    assert(added.sorted == Seq(
      "CREATE SCHEMA IF NOT EXISTS shop;",
      "DELETE FROM shop.orders WHERE _id = 'o0';"))
  }

  test("the sql path executes the statement DAG once") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true)
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      None, "local[4]")
    // the registry's fold (it builds the cached batch) and the write —
    // the write carries the statement count, so no second pass over the
    // render DAG
    assert(queriesRun(Main.run(spark, conf)) == Seq("registry", "command"))
  }

  /** Every operator of an executed plan, through the adaptive stages,
    * down to and including the cached relations' scans (a cache's own
    * plan is not among them).
    */
  private object Operators extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }
  }

  test("plan audit: the sql path parses, admits and tokenizes each turn once, below its cache") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true)
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      None, "local[4]")
    val writes = executionsRun(Main.run(spark, conf)).collect { case ("command", qe) => qe }
    assert(writes.size == 1)
    val ops = Operators(writes.head.executedPlan)
    assert(ops.exists(_.isInstanceOf[InMemoryTableScanExec]), "the write reads no cache")
    val above = ops.flatMap(op => op.expressions.flatMap(_.collect {
      case e: ParseTurn => s"${op.nodeName}: $e"
      case e: ValidTurn => s"${op.nodeName}: $e"
      case e: JsonKvRaw if e.child.references.exists(_.name == "payload") =>
        s"${op.nodeName}: $e"
    }))
    assert(above.isEmpty, "the write re-derives a turn above its cache")
    // a null guard pushed through the child docs' projection inlines
    // their map builder into an interpreted filter
    val filters = ops.collect { case f: FilterExec => f.condition }
      .filter(_.exists(_.isInstanceOf[JsonKvRaw]))
    assert(filters.isEmpty, s"the write tokenizes in a filter: $filters")
  }

  /** What `body` returns, and the lines it printed to stderr. */
  private def withStderr[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val result = try body finally System.setErr(saved)
    (result, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("a turn without a table dead-letters; no NULL statement reaches the sink") {
    val base = tmp()
    val extra = Seq(
      ("c3", 1, "user", """INS nonamespace {"_id":"n1"}""", "tool_0", T1),
      ("c3", 2, "user", """INS shop. {"_id":"n2"}""", "tool_0", T1),
      ("c3", 3, "user", "INS other.t9 not-json", "tool_0", T1),
      ("c3", 4, "user", """INS admin.users {"_id":"a1"}""", "tool_0", T1),
      // the reasons' precedence: an unknown op before a denied db, a
      // denied db before a missing table
      ("c3", 5, "user", "SYS admin.users {}", "tool_0", T1),
      ("c3", 6, "user", """INS admin {"_id":"a2"}""", "tool_0", T1),
      ("c3", 7, "user", "INS", "tool_0", T1))
    turns(day1 ++ extra: _*).write.json(s"$base/in")
    val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
      None, "local[4]")
    val ((n, rejects), err) = withStderr(Main.run(spark, conf))
    // two SYS turns, two denied dbs, three turns without a namespace and
    // the payload that is not a JSON object
    assert(rejects == 8)
    assert(err.filter(_.startsWith("[graft] dead-lettered")) == Seq(
      "[graft] dead-lettered 8 turns: unknown_op 2, denied_db 2, " +
        "no_namespace 3, bad_payload 1"))
    val got = lines(conf.output)
    assert(n == got.length.toLong)
    // every turn in either renders its one parent DML statement or is
    // dead-lettered
    val rendered = got.count(s => Seq("INSERT INTO shop.orders ", "UPDATE ",
      "DELETE ").exists(s.startsWith))
    assert(day1.size + extra.size == rendered + rejects)
    assert(got == Seq(
      "CREATE SCHEMA IF NOT EXISTS shop;",
      "CREATE TABLE IF NOT EXISTS shop.orders (_id VARCHAR(255) PRIMARY KEY, total FLOAT);",
      "CREATE TABLE IF NOT EXISTS shop.orders_tags (_id VARCHAR(255) PRIMARY KEY, " +
        "orders__id VARCHAR(255), value VARCHAR(255));",
      "INSERT INTO shop.orders (_id, total) VALUES ('o1', 9.5);",
      s"INSERT INTO shop.orders_tags (_id, orders__id, value) " +
        s"VALUES ('${sha256hex("o1|orders_tags|0")}', 'o1', 'a');",
      s"INSERT INTO shop.orders_tags (_id, orders__id, value) " +
        s"VALUES ('${sha256hex("o1|orders_tags|1")}', 'o1', 'b');",
      "UPDATE shop.orders SET total = 11.5 WHERE _id = 'o1';"))
  }

  private lazy val allTurns = turns(day1 ++ day2: _*)

  /** `df` as parquet input in `<base>/in`, rendered to `<base>/out.sql`. */
  private def parquetInput(base: String, df: DataFrame): Main.Conf = {
    df.write.parquet(s"$base/in")
    Main.Conf(s"$base/in", "parquet", s"$base/out.sql", "sql", None, "local[4]")
  }

  test("parquet input is read with the transcript schema: no job, an extra column ignored") {
    val base = tmp()
    val conf = parquetInput(base, allTurns.withColumn("note", lit("x")))
    assert(jobsRun(Main.readTurns(spark, conf)) == 0)
    assert(jobsRun(Main.readTurns(spark, conf.copy(inputType = "json"))) == 0)
    val read = Main.readTurns(spark, conf)
    assert(read.schema == TranscriptStream.turnSchema)
    assert(read.collect().toSet == allTurns.collect().toSet)
  }

  test("parquet input whose turn_idx is BIGINT fails naming the column") {
    val base = tmp()
    val conf = parquetInput(base,
      allTurns.withColumn("turn_idx", col("turn_idx").cast("bigint")))
    val e = intercept[Exception](Main.run(spark, conf))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("turn_idx"), messages)
    assert(!new java.io.File(conf.output).exists()) // nothing rendered
  }

  test("job budget: the sql path over parquet input runs 3 Spark jobs") {
    val base = tmp()
    val conf = parquetInput(base, allTurns)
    // one job builds the cached batch and folds it into the registry, then
    // the write runs two adaptive stages: the gather into one partition
    // and the sorted write. The DDL is a literal relation, so it adds no
    // stage; no schema-inference job, no range-sort sampling job
    assert(jobsRun(Main.run(spark, conf)) == 3)
    assert(lines(conf.output).length == 8)
  }

  test("a failed run releases its cached batch") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true)
    val notADir = Files.createFile(java.nio.file.Paths.get(s"$base/out.sql"))
    val conf = Main.Conf(s"$base/in", "json", notADir.toString, "sql",
      None, "local[4]")
    spark.catalog.clearCache()
    intercept[Exception](Main.run(spark, conf))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("json -> db: DDL then DML execute transactionally over JDBC (Derby)") {
    val base = tmp()
    writeInput(s"$base/in", upToDay2 = true)
    val url = s"jdbc:derby:$base/db;create=true"
    // Derby dialect: no IF NOT EXISTS / dotted schema auto-create; create
    // the schema up front and strip the unsupported clause like a user
    // pointing the stream at a real warehouse would configure
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute("CREATE SCHEMA shop")
    conn.close()
    val conf = Main.Conf(s"$base/in", "json", url, "db", None, "local[4]")
    // Derby rejects CREATE SCHEMA IF NOT EXISTS → run the statement stream
    // minus phase 0 the way JdbcSinkSpec does: here via the public API
    val parsed = Pipeline_valid(s"$base/in")
    // Derby can't parse leading-underscore identifiers (_id); the
    // reference's actual sink (Postgres) can. Rename consistently across
    // DDL+DML for the embedded-DB test — execution ORDER is what's under
    // test here
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val stmts = graft.operators.Pipeline.renderAllStatements(parsed)
      .filter(col("phase") > 0)
      .orderBy("phase", "ord", "turn_idx", "stmt")
      .withColumn("stmt", regexp_replace(col("stmt"), "_id", "uid"))
      // Derby also lacks CREATE TABLE IF NOT EXISTS (reference dialect,
      // transformer.go:222); strip the clause for the embedded-DB test
      .withColumn("stmt", regexp_replace(col("stmt"), "IF NOT EXISTS ", ""))
      .coalesce(1)
    val n = graft.operators.JdbcSink.executeStatements(stmts, url)
    assert(n == 7)
    val c2 = java.sql.DriverManager.getConnection(url)
    val rs = c2.createStatement()
      .executeQuery("SELECT count(*) FROM shop.orders_tags")
    rs.next()
    assert(rs.getInt(1) == 2)
    // parent row was inserted, updated, then deleted
    val rs2 = c2.createStatement().executeQuery("SELECT count(*) FROM shop.orders")
    rs2.next()
    assert(rs2.getInt(1) == 0)
    c2.close()
    assert(conf.outputType == "db")
  }

  private def Pipeline_valid(in: String) = {
    import graft.operators.Pipeline
    Pipeline.filterValid(Pipeline.parse(
      spark.read.schema(graft.streaming.TranscriptStream.turnSchema).json(in)))
  }
}
