package graft

import org.scalacheck.Gen
import graft.operators.Pipeline

/** Property-style generalization of the reference's literal-renderer table
  * (/root/reference/transformer/transformer_test.go:159-220): quote
  * escaping over generated strings, plus the full type lattice
  * (int widths / float / bool / string / null).
  */
class RendererPropSpec extends SparkSuite {

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  test("string literals: ' doubles, value preserved (100 generated samples)") {
    val gen = Gen.listOfN(100,
      Gen.nonEmptyListOf(Gen.frequency(
        8 -> Gen.alphaNumChar, 2 -> Gen.const('\''), 1 -> Gen.const(' ')))
        .map(_.mkString))
    val samples = gen.sample.get.distinct
      .filter(s => !s.matches("^-?[0-9]+([.][0-9]+)?$") && s != "true" && s != "false")
    val rows = samples.zipWithIndex.map { case (s, i) =>
      ("c1", i, "tool", s"""DEL test.t {"_id":"${jsonEscape(s)}"}""", "tool_0",
        "2024-01-01 00:00:00")
    }
    val got = stmtsOrdered(Pipeline.renderDeleteDynamic(parsedValid(turns(rows: _*))))
    samples.zip(got).foreach { case (s, stmt) =>
      val escaped = s.replace("'", "''")
      assert(stmt == s"DELETE FROM test.t WHERE _id = '$escaped';",
        s"input=<$s>")
    }
  }

  test("type lattice: ints bare, floats bare, bools bare, strings quoted (transformer_test.go:159-220)") {
    val cases = Seq(
      // (json value, expected rendered literal)
      ("25", "25"),
      ("-9223372036854775808", "-9223372036854775808"), // int64 min
      ("0.5", "0.5"),
      ("123.456", "123.456"),
      ("true", "true"),
      ("false", "false"),
      ("\"O'Brien\"", "'O''Brien'"),
      ("\"2000-01-30\"", "'2000-01-30'"),
      ("\"\"", "''"))
    val rows = cases.zipWithIndex.map { case ((j, _), i) =>
      ("c1", i, "user", s"""INS test.t {"_id":"x$i","v":$j}""", "tool_0",
        "2024-01-01 00:00:00")
    }
    val got = stmtsOrdered(
      Pipeline.renderInsertDynamic(parsedValid(turns(rows: _*))))
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i) ==
        s"INSERT INTO test.t (_id, v) VALUES ('x$i', $want);")
    }
  }

  test("absent keys are omitted from column list (first-doc schema, D2)") {
    // a key absent from the document, or present with JSON null, is not
    // a column of that row's INSERT
    val df = turns(
      ("c1", 1, "user", """INS test.t {"_id":"a"}""", "tool_0",
        "2024-01-01 00:00:00"),
      ("c1", 2, "user", """INS test.t {"_id":"b","v":null,"w":1}""", "tool_0",
        "2024-01-01 00:00:00"))
    val got = stmtsOrdered(Pipeline.renderInsertDynamic(parsedValid(df)))
    assert(got == Seq("INSERT INTO test.t (_id) VALUES ('a');",
      "INSERT INTO test.t (_id, w) VALUES ('b', 1);"))
  }
}
