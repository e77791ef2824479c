package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{ParseTurn, parse_turn}

/** The fused parse expression: interpreted path (static parse) and
  * codegen path (whole-stage through a DataFrame) must agree on the
  * grammar and on every malformed-input shape.
  */
class ParseTurnSpec extends SparkSuite {

  private def evalParse(s: String): (String, String, String, String) = {
    val r = ParseTurn.parse(UTF8String.fromString(s))
    def g(i: Int): String = {
      val v = r.getUTF8String(i); if (v == null) null else v.toString
    }
    (g(0), g(1), g(2), g(3))
  }

  test("interpreted path: grammar + malformed shapes") {
    assert(evalParse("INS db0.t1 {\"k\":1}") == ("INS", "db0", "t1", "{\"k\":1}"))
    assert(evalParse("DEL admin.sys {}") == ("DEL", "admin", "sys", "{}"))
    // payload may contain spaces and further dots
    assert(evalParse("UPD a.b {\"x\": \"y.z w\"}") ==
      ("UPD", "a", "b", "{\"x\": \"y.z w\"}"))
    // no payload
    assert(evalParse("INS db0.t1") == ("INS", "db0", "t1", null))
    // no dot in namespace
    assert(evalParse("INS db0t1 {}") == ("INS", "db0t1", null, "{}"))
    // no space at all → whole text as op, rest null (dead-letter shape)
    assert(evalParse("garbage") == ("garbage", null, null, null))
    // leading space
    assert(evalParse(" x y") == (" x y", null, null, null))
    // unicode survives slicing
    assert(evalParse("INS dß.tö {\"k\":\"é\"}") == ("INS", "dß", "tö", "{\"k\":\"é\"}"))
  }

  test("codegen path agrees with interpreted path") {
    val texts = Seq(
      "INS db0.t1 {\"k\":1}", "DEL admin.sys {}", "INS db0.t1",
      "INS db0t1 {}", "garbage", " x y", "INS dß.tö {\"k\":\"é\"}",
      "UPD a.b {\"x\": \"y.z w\"}")
    import spark.implicits._
    val got = texts.toDF("text")
      .select(parse_turn(col("text")).as("p"))
      .select("p.op", "p.db", "p.tbl", "p.payload")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
    assert(got == texts.map(evalParse))
  }

  test("SQL registration: parse_turn/valid_turn/poly_hash31 callable from spark.sql") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT parse_turn('INS db0.t1 {"k":1}').op AS op,
                valid_turn('INS db0.t1 {"k":1}') AS ok,
                valid_turn('INS admin.t1 {}') AS denied,
                poly_hash31('abc') AS ph""").collect()(0)
    assert(r.getString(0) == "INS")
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getLong(3) == graft.functions.TextHashes.polyHash31(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
  }

  test("valid_turn is equivalent to the parsed-column predicate (3-valued)") {
    import spark.implicits._
    import graft.operators.Pipeline
    val texts = Seq(
      "INS db0.t1 {}", "UPD admin.x {}", "DEL config.y {}", "SYS db0.t1 {}",
      "INS db0t1 {}",      // no dot: db = whole ns
      "INS admin {}",      // no dot, denied db
      "INS",               // no space: db null -> NULL -> dropped both sides
      "garbage", "DEL local.z {}", "INS  {}" /* empty ns */)
    val df = texts.zipWithIndex
      .map { case (t, i) => ("c", i, "user", t, "tool_0") }
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", org.apache.spark.sql.functions.lit("2024-01-01 00:00:00").cast("timestamp"))
    val parsed = Pipeline.parse(df)
    val colForm = parsed.filter(
      col("op").isin(Pipeline.allowedOps: _*) &&
        !col("db").isin(Pipeline.deniedDbs: _*))
      .select("turn_idx").collect().map(_.getInt(0)).toSet
    val fused = Pipeline.filterValid(parsed)
      .select("turn_idx").collect().map(_.getInt(0)).toSet
    assert(fused == colForm)
    // reject side equivalence too (NULL rows drop from both sides)
    val colRejects = parsed.filter(
      !(col("op").isin(Pipeline.allowedOps: _*) &&
        !col("db").isin(Pipeline.deniedDbs: _*)))
      .select("turn_idx").collect().map(_.getInt(0)).toSet
    val fusedRejects = Pipeline.rejects(parsed)
      .select("turn_idx").collect().map(_.getInt(0)).toSet
    assert(fusedRejects == colRejects)
  }

  test("null input yields null struct (UnaryExpression null contract)") {
    import spark.implicits._
    val got = Seq[String](null).toDF("text")
      .select(parse_turn(col("text")).as("p")).collect()
    assert(got(0).isNullAt(0))
  }
}
