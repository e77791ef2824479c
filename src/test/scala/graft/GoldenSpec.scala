package graft

import graft.operators.Pipeline

/** The 7 reference unit cases (/root/reference/transformer/
  * transformer_test.go:10-145) grafted onto transcript turns — with FULL
  * goldens for every case: deterministic sorted column order + sha2
  * surrogate keys make the 4 cases the reference could not golden (Go map
  * iteration order, transformer_test.go:152) fully assertable here.
  */
class GoldenSpec extends SparkSuite {

  private val id = "635b79e231d82a8ab1de863b"
  private val T = "2024-01-01 10:00:00"

  test("insertSingle (transformer_test.go:14-26): sorted-column INSERT") {
    val df = turns(("c1", 1, "user",
      s"""INS test.student {"_id":"$id","date_of_birth":"2000-01-30","is_graduated":false,"name":"Selena Miller","roll_no":51}""",
      "tool_0", T))
    // fully dynamic: the column set is derived from the document at
    // runtime, not passed in. Conscious divergences from the reference,
    // documented in SURVEY.md §1.1/§5: int stays bare INTEGER (reference
    // emits 51.000000 via the float64 quirk), column order is sorted
    // (reference is map-random and thus un-goldenable)
    val got = stmtsOrdered(Pipeline.renderInsertDynamic(parsedValid(df)))
    assert(got == Seq(
      s"INSERT INTO test.student (_id, date_of_birth, is_graduated, name, roll_no) " +
        s"VALUES ('$id', '2000-01-30', false, 'Selena Miller', 51);"))

    // CREATE TABLE from the same first doc, types inferred per value shape
    val ddl = Pipeline.ddlCreateTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(ddl == Seq(
      "CREATE TABLE IF NOT EXISTS test.student (_id VARCHAR(255) PRIMARY KEY, " +
        "date_of_birth VARCHAR(255), is_graduated BOOLEAN, " +
        "name VARCHAR(255), roll_no INTEGER);"))
  }

  test("insertSingleNewColumn (transformer_test.go:27-40): ALTER on drift") {
    val df = turns(
      ("c1", 1, "user",
        s"""INS test.student {"_id":"a1","name":"Selena Miller","roll_no":51}""",
        "tool_0", T),
      ("c1", 2, "user",
        s"""INS test.student {"_id":"a2","name":"Jane","phone":"+91-81254966457","roll_no":52}""",
        "tool_0", "2024-01-01 10:05:00"))
    // dynamic drift detection: no drift-key list — 'phone' is discovered
    val alters = Pipeline.ddlAlterTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(alters == Seq("ALTER TABLE test.student ADD phone VARCHAR(255);"))
  }

  test("updateQuery (transformer_test.go:41-59): exact reference golden") {
    val df = turns(("c1", 1, "assistant",
      s"""UPD test.student {"_id":"$id","diff":{"u":{"is_graduated":true,"name":"dummy_name"}}}""",
      "tool_0", T))
    val got = stmtsOrdered(Pipeline.renderUpdateDynamic(parsedValid(df)))
    // matches the reference golden string exactly (modulo its trailing \n\n)
    assert(got == Seq(
      s"UPDATE test.student SET is_graduated = true, name = 'dummy_name' WHERE _id = '$id';"))
  }

  test("updateQuerySetNull (transformer_test.go:60-78): diff.d → NULL, value ignored") {
    // note name's diff.d value is JSON null and roll_no's is false — both
    // must become SET NULL on key presence (transformer.go:279-282)
    val df = turns(("c1", 1, "assistant",
      s"""UPD test.student {"_id":"$id","diff":{"d":{"roll_no":false,"name":null}}}""",
      "tool_0", T))
    val got = stmtsOrdered(Pipeline.renderUpdateDynamic(parsedValid(df)))
    assert(got == Seq(
      s"UPDATE test.student SET name = NULL, roll_no = NULL WHERE _id = '$id';"))
  }

  test("deleteQuery (transformer_test.go:79-88): exact reference golden") {
    val df = turns(("c1", 1, "tool",
      s"""DEL test.student {"_id":"$id"}""", "tool_0", T))
    val got = stmtsOrdered(Pipeline.renderDeleteDynamic(parsedValid(df)))
    assert(got == Seq(s"DELETE FROM test.student WHERE _id = '$id';"))
  }

  test("multi-key WHERE joins with ' and ' (transformer.go:284-297,308-316)") {
    val df = turns(
      ("c1", 1, "tool", """DEL test.t {"_id":"x1","k":5}""", "tool_0", T),
      ("c1", 2, "assistant",
        """UPD test.t {"_id":"x1","k":5,"diff":{"u":{"v":7}}}""", "tool_0", T))
    // dynamic: WHERE keys discovered from the document (both of them)
    val del = stmtsOrdered(Pipeline.renderDeleteDynamic(parsedValid(df)))
    assert(del == Seq("DELETE FROM test.t WHERE _id = 'x1' and k = 5;"))
    val upd = stmtsOrdered(Pipeline.renderUpdateDynamic(parsedValid(df)))
    assert(upd == Seq("UPDATE test.t SET v = 7 WHERE _id = 'x1' and k = 5;"))
  }

  test("malformed payloads render NO broken SQL (null-guard); routing still counts them") {
    val df = turns(
      ("c1", 1, "user", "INS test.t garbage-not-json", "tool_0", T),
      ("c1", 2, "user", """INS test.t {"_id":"ok1","k":1}""", "tool_0", T),
      ("c1", 3, "assistant", "UPD test.t also-garbage", "tool_0", T),
      ("c1", 4, "tool", "DEL test.t []", "tool_0", T))
    val p = parsedValid(df)
    assert(stmtsOrdered(Pipeline.renderInsertDynamic(p)) ==
      Seq("INSERT INTO test.t (_id, k) VALUES ('ok1', 1);"))
    assert(Pipeline.renderUpdateDynamic(p).count() == 0)
    assert(Pipeline.renderDeleteDynamic(p).count() == 0)
    // the turns are still admitted (valid op/db) and countable per-sink
    assert(p.count() == 4)
  }

  test("nestedObject1 DYNAMIC: child columns discovered from the document (transformer.go:74-108)") {
    // the caller supplies NOTHING but the payload: nested keys, child
    // column sets, FK name and surrogate ids all derive at runtime
    val payload =
      s"""{"_id":"$id","name":"Selena Miller","phone":{"personal":"7678456640","work":"8130097989"},""" +
        """"address":[{"line1":"481 Harborsburgh","zip":"89799"},{"line1":"329 Flatside","zip":"80872"}]}"""
    val df = turns(("c1", 1, "user", s"INS test.student $payload", "tool_0", T))
    val got = Pipeline.renderChildInsertsDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSet
    def sha(tbl: String, pos: Int) = sha256hex(s"$id|$tbl|$pos")
    assert(got == Set(
      s"INSERT INTO test.student_phone (_id, personal, student__id, work) " +
        s"VALUES ('${sha("student_phone", 0)}', '7678456640', '$id', '8130097989');",
      s"INSERT INTO test.student_address (_id, line1, student__id, zip) " +
        s"VALUES ('${sha("student_address", 0)}', '481 Harborsburgh', '$id', '89799');",
      s"INSERT INTO test.student_address (_id, line1, student__id, zip) " +
        s"VALUES ('${sha("student_address", 1)}', '329 Flatside', '$id', '80872');"))
    // note zip is a numeric-looking JSON STRING — stays quoted (and types
    // VARCHAR below), the reference's runtime-type switch
    val ddl = Pipeline.ddlCreateChildTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSet
    assert(ddl == Set(
      "CREATE TABLE IF NOT EXISTS test.student_phone (_id VARCHAR(255) PRIMARY KEY, " +
        "personal VARCHAR(255), student__id VARCHAR(255), work VARCHAR(255));",
      "CREATE TABLE IF NOT EXISTS test.student_address (_id VARCHAR(255) PRIMARY KEY, " +
        "line1 VARCHAR(255), student__id VARCHAR(255), zip VARCHAR(255));"))
  }

  test("nestedObject2 DYNAMIC: drift inside children discovered at runtime") {
    val df = turns(
      ("c1", 1, "user",
        s"""INS test.student {"_id":"p1","address":[{"line1":"329 Flatside","zip":"80872"}]}""",
        "tool_0", T),
      ("c1", 2, "user",
        s"""INS test.student {"_id":"p2","address":[{"line1":"481 Harborsburgh","pincode":"123","zip":"89799"}]}""",
        "tool_0", "2024-01-01 10:05:00"))
    val alters = Pipeline.ddlAlterChildTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(alters ==
      Seq("ALTER TABLE test.student_address ADD pincode VARCHAR(255);"))
    // each child row carries only its own element's keys: p1's has no pincode
    val rows = stmtsOrdered(Pipeline.renderChildInsertsDynamic(parsedValid(df)))
    def sha(parent: String) = sha256hex(s"$parent|student_address|0")
    assert(rows == Seq(
      s"INSERT INTO test.student_address (_id, line1, student__id, zip) " +
        s"VALUES ('${sha("p1")}', '329 Flatside', 'p1', '80872');",
      s"INSERT INTO test.student_address (_id, line1, pincode, student__id, zip) " +
        s"VALUES ('${sha("p2")}', '481 Harborsburgh', '123', 'p2', '89799');"))
  }

  test("sibling child docs: first doc by payload, ALTER typed from the earliest occurrence") {
    // the elements of one parent array share (ts, conv_id, turn_idx), so the
    // child table's first doc is the smallest canonical payload — e1's, the
    // SECOND element — and CREATE takes its keys with its types (b FLOAT,
    // not e2's INTEGER). z is drift: its earliest occurrences tie on
    // (ts, conv_id, turn_idx) as INTEGER (e2) and VARCHAR (e3), and the
    // type breaks the tie; the later BOOLEAN never wins
    val df = turns(
      ("c1", 1, "user",
        """INS test.t {"_id":"p1","items":[{"_id":"e2","b":1,"z":7},""" +
          """{"_id":"e1","a":"x","b":2.5},{"_id":"e3","z":"s"}]}""",
        "tool_0", T),
      ("c1", 2, "user", """INS test.t {"_id":"p2","items":[{"_id":"e4","z":true}]}""",
        "tool_0", "2024-01-01 10:05:00"))
    val creates = Pipeline.ddlCreateChildTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(creates == Seq("CREATE TABLE IF NOT EXISTS test.t_items " +
      "(_id VARCHAR(255) PRIMARY KEY, a VARCHAR(255), b FLOAT);"))
    val alters = Pipeline.ddlAlterChildTablesDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(alters == Seq("ALTER TABLE test.t_items ADD z INTEGER;"))
  }

  test("nested diff.u value renders SET k = NULL, never bare JSON braces (r2 ADVICE)") {
    // the reference renderer has NO map case: its `?` placeholder survives
    // and shifts every later value one slot left (transformer.go:34-52) —
    // a bug, not semantics. We emit k = NULL like diff.d key presence.
    val df = turns(("c1", 1, "assistant",
      """UPD test.t {"_id":"x1","diff":{"u":{"addr":{"city":"x"},"name":"n"}}}""",
      "tool_0", T))
    val want =
      Seq("UPDATE test.t SET addr = NULL, name = 'n' WHERE _id = 'x1';")
    assert(stmtsOrdered(Pipeline.renderUpdateDynamic(parsedValid(df))) == want)
  }

  test("parent without _id: child row survives with FK NULL (GetValueFromObject nil → NULL)") {
    // a null FK map value would null out jsonOfKv's concat and silently
    // DROP the child; the reference still inserts it (FK nil → NULL).
    // Under this engine's JSON-null convention the null-valued FK key is
    // omitted from the column list like every other null value — the row
    // itself must survive, keyed by the deterministic "null|…" surrogate.
    val df = turns(("c1", 1, "user",
      """INS test.t {"sub":{"v":2}}""", "tool_0", T))
    val got = Pipeline.renderChildInsertsDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(got == Seq("INSERT INTO test.t_sub (_id, v) VALUES " +
      s"('${sha256hex("null|t_sub|0")}', 2);"))
  }

  test("child docs with their own _id keep it; no FK/synthesized key added (transformer.go:127-134)") {
    val df = turns(("c1", 1, "user",
      """INS test.t {"_id":"p1","sub":{"_id":"own1","v":2}}""", "tool_0", T))
    val got = Pipeline.renderChildInsertsDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(got == Seq("INSERT INTO test.t_sub (_id, v) VALUES ('own1', 2);"))
  }

  test("child doc already carrying the FK-named key: ours overwrites like Go map assignment, no crash") {
    // transformer.go:130-133 assigns data[fk] = parentId unconditionally —
    // a pre-existing t__id key is overwritten; map_concat under the default
    // EXCEPTION dedup policy would instead kill the job
    val df = turns(("c1", 1, "user",
      """INS test.t {"_id":"p1","sub":{"t__id":"stale","v":2}}""", "tool_0", T))
    val got = Pipeline.renderChildInsertsDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(got == Seq("INSERT INTO test.t_sub (_id, t__id, v) VALUES " +
      s"('${sha256hex("p1|t_sub|0")}', 'p1', 2);"))
  }
}
