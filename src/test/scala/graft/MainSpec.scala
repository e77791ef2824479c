package graft

import java.nio.file.Files

/** The CLI driver end-to-end (reference main.go analog): json turn log in,
  * ordered DDL+DML statement stream out, ledger-gated resume, flag
  * validation, and the full-stream assembly convention.
  */
class MainSpec extends SparkSuite {

  private def tmp(): String = Files.createTempDirectory("graft_main").toString

  private val T1 = "2024-01-01 10:00:00"
  private val T2 = "2024-01-02 10:00:00"

  private def writeInput(dir: String, upToDay2: Boolean): Unit = {
    val rows = Seq(
      ("c1", 1, "user",
        """INS shop.orders {"_id":"o1","total":9.5,"tags":["a","b"]}""",
        "tool_0", T1),
      ("c1", 2, "assistant",
        """UPD shop.orders {"_id":"o1","diff":{"u":{"total":11.5}}}""",
        "tool_0", T1),
      ("c1", 3, "system", "SYS shop.orders {}", "tool_0", T1)) ++
      (if (upToDay2)
        Seq(("c2", 1, "tool", """DEL shop.orders {"_id":"o1"}""", "tool_0", T2))
      else Nil)
    turns(rows: _*).write.mode("overwrite").json(dir)
  }

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

    Main.run(spark, conf) // same input again — watermark filters everything
    val after2 = spark.read.text(s"$base/out.sql").count()
    assert(after2 == after1, "resume replayed already-committed turns")

    writeInput(s"$base/in", upToDay2 = true) // day-2 DELETE arrives
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
