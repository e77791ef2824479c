package graft

import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.Transcripts

/** e2e_16 fixture (FIXTURES.md §3): the reference's example-input.json mix
  * — 14 inserts / 1 update / 1 delete across 2 namespaces
  * (example-input.json:23,161,466 → example-output.sql) — as one short
  * conversation set, asserting per-sink routed-row counts and row-for-row
  * rendered-text equality under (conv_id, turn_idx) ordering (the north
  * rule's per-turn invariant).
  */
class PipelineE2ESpec extends SparkSuite {

  private def ts(m: Int) = f"2024-01-01 10:$m%02d:00"

  // 14 INS (10 test.student, 4 test.employee), 1 UPD, 1 DEL + 2 rejects
  private lazy val fixture = turns(
    (1 to 10).map(i => ("c1", i, "user",
      s"""INS test.student {"_id":"s$i","k":$i}""", s"tool_${i % 8}", ts(i))) ++
    (11 to 14).map(i => ("c2", i, "user",
      s"""INS test.employee {"_id":"e$i","k":$i,"extra":"x$i"}""",
      s"tool_${i % 8}", ts(i))) ++ Seq(
      ("c1", 15, "assistant",
        s"""UPD test.student {"_id":"s1","diff":{"u":{"k":99}}}""", "tool_1", ts(15)),
      ("c2", 16, "tool", s"""DEL test.employee {"_id":"e11"}""", "tool_2", ts(16)),
      // dead-letter shapes: unknown op + denied db
      ("c3", 1, "system", "SYS test.x {}", "tool_3", ts(17)),
      ("c3", 2, "user", """INS admin.users {"_id":"u1","k":1}""", "tool_4", ts(18))): _*)

  test("per-sink routed-row counts match the 14/1/1 mix exactly") {
    val routed = Pipeline.route(
      Pipeline.enrich(parsedValid(fixture), Transcripts.toolDim(spark)))
    val counts = Pipeline.sinkCounts(routed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.filter(_._1.startsWith("ins_")).values.sum == 14L)
    assert(counts.filter(_._1.startsWith("upd_")).values.sum == 1L)
    assert(counts.filter(_._1.startsWith("del_")).values.sum == 1L)
    assert(counts.values.sum == 16L)
    // dead letters: exactly the SYS turn and the admin-db insert
    val dead = Pipeline.rejects(Pipeline.parse(fixture))
    assert(dead.count() == 2L)
    assert(dead.select("op").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("INS", "SYS"))
  }

  test("row-for-row rendered-text equality under (conv_id, turn_idx) order") {
    val p = parsedValid(fixture)
    val got = stmtsOrdered(
      Pipeline.renderInsertDynamic(p)
        .unionByName(Pipeline.renderUpdateDynamic(p))
        .unionByName(Pipeline.renderDeleteDynamic(p)))
    val want =
      (1 to 10).map(i =>
        s"INSERT INTO test.student (_id, k) VALUES ('s$i', $i);") ++ Seq(
        "UPDATE test.student SET k = 99 WHERE _id = 's1';") ++
      (11 to 14).map(i =>
        s"INSERT INTO test.employee (_id, extra, k) VALUES ('e$i', 'x$i', $i);") ++ Seq(
        "DELETE FROM test.employee WHERE _id = 'e11';")
    assert(got == want)
  }

  test("DDL synthesis: schemas, first-seen CREATEs, no spurious ALTER") {
    val p = parsedValid(fixture)
    val schemas = Pipeline.ddlCreateSchemas(Pipeline.parse(fixture))
      .select("stmt").collect().map(_.getString(0)).toSet
    assert(schemas == Set("CREATE SCHEMA IF NOT EXISTS test;"))

    val creates = Pipeline.ddlCreateTablesDynamic(p)
      .select("stmt").collect().map(_.getString(0)).toSet
    assert(creates == Set(
      "CREATE TABLE IF NOT EXISTS test.student (_id VARCHAR(255) PRIMARY KEY, k INTEGER);",
      "CREATE TABLE IF NOT EXISTS test.employee (_id VARCHAR(255) PRIMARY KEY, extra VARCHAR(255), k INTEGER);"))

    // employee's FIRST doc already has extra → no drift ALTER anywhere
    assert(Pipeline.ddlAlterTablesDynamic(p).count() == 0L)
  }

  test("window ordering: transitions reflect per-conv turn order") {
    val tr = Pipeline.turnTransitions(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // c1: user×10 then assistant → 9 user→user + 1 user→assistant
    assert(tr(("user", "user")) == 9L + 3L) // c1 9, c2 3
    assert(tr(("user", "assistant")) == 1L)
    assert(tr(("user", "tool")) == 1L)
    assert(tr(("system", "user")) == 1L) // c3
  }

  test("flagship entry() runs green on sf0.001 with rows > 0") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty && rows.map(_.getLong(1)).sum > 0)
  }
}
