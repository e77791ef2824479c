package graft

import java.sql.DriverManager

import graft.operators.{JdbcSink, Pipeline}

/** W2 sink against embedded Derby: rendered DML executes transactionally,
  * errors propagate (NOT swallowed like the reference's postgres.go:55-57),
  * and the database state matches the turn stream's intent.
  */
class JdbcSinkSpec extends SparkSuite {

  // Derby (the embedded test db) rejects unquoted identifiers starting
  // with _; the renderer takes its columns from the document, so this
  // suite's payloads key on `id`. A Postgres deployment keeps `_id`
  // exactly as the reference does.

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def setupSchema(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("CREATE SCHEMA app") catch { case _: Exception => () }
      try st.execute("DROP TABLE app.student") catch { case _: Exception => () }
      st.execute(
        "CREATE TABLE app.student (id VARCHAR(255) PRIMARY KEY, k INTEGER)")
      st.close()
    } finally conn.close()
  }

  private def queryK(id: String): Option[Int] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT k FROM app.student WHERE id = '$id'")
      if (rs.next()) Some(rs.getInt(1)) else None
    } finally conn.close()
  }

  test("rendered insert/update/delete DML lands transactionally in Derby") {
    setupSchema()
    val df = turns(
      ("c1", 1, "user", """INS app.student {"id":"s1","k":1}""", "tool_0",
        "2024-01-01 10:00:00"),
      ("c1", 2, "user", """INS app.student {"id":"s2","k":2}""", "tool_0",
        "2024-01-01 10:01:00"),
      ("c1", 3, "assistant",
        """UPD app.student {"id":"s1","diff":{"u":{"k":99}}}""", "tool_0",
        "2024-01-01 10:02:00"),
      ("c1", 4, "tool", """DEL app.student {"id":"s2"}""", "tool_0",
        "2024-01-01 10:03:00"))
    val p = parsedValid(df)

    // order matters for DML: single ordered partition, like the sink commit
    val inserts = Pipeline.renderInsertDynamic(p)
    assert(JdbcSink.executeStatements(inserts.coalesce(1), url) == 2L)
    val updates = Pipeline.renderUpdateDynamic(p)
    val deletes = Pipeline.renderDeleteDynamic(p)
    assert(JdbcSink.executeStatements(
      updates.unionByName(deletes).coalesce(1), url) == 2L)

    assert(queryK("s1").contains(99))
    assert(queryK("s2").isEmpty)
  }

  test("errors propagate and roll back (reference swallows them)") {
    setupSchema()
    import spark.implicits._
    val bad = Seq(
      ("c1", 1, "INSERT INTO app.student (id, k) VALUES ('a', 1);"),
      ("c1", 2, "INSERT INTO nowhere.nothing VALUES (1);"))
      .toDF("conv_id", "turn_idx", "stmt")
    val thrown = intercept[Exception] {
      JdbcSink.executeStatements(bad.coalesce(1), url)
    }
    assert(thrown != null)
    // the good row in the same transaction rolled back too
    assert(queryK("a").isEmpty)
  }

  test("table-shaped append via Spark's JDBC writer") {
    setupSchema()
    import spark.implicits._
    JdbcSink.append(
      Seq(("j1", 7), ("j2", 8)).toDF("id", "k"), url, "app.student")
    assert(queryK("j1").contains(7) && queryK("j2").contains(8))
  }
}
