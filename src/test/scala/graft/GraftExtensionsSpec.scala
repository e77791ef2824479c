package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The spark.sql.extensions injection path: applying GraftExtensions to a
  * SparkSessionExtensions registers every custom expression (what a
  * cluster does at session build when configured with
  * `spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensionsSpec extends SparkSuite {

  test("all expressions inject into a fresh function registry and evaluate") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.testbridge.registerFunctions(
      ext, new SimpleFunctionRegistry)
    val expected = Set("parse_turn", "valid_turn", "json_kv_raw",
      "json_unquote", "json_arr_raw", "poly_hash31", "shingles3",
      "dot_long", "sign_projections")
    assert(reg.listFunction().map(_.funcName).toSet == expected)
    // the registry path (registerAll, used by GraftSession) adds exactly
    // the names the extension injects to a fresh session's builtins
    val fresh = spark.newSession()
    graft.functions.registerAll(fresh)
    val added = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet -- FunctionRegistry.builtin.listFunction()
      .map(_.funcName).toSet
    assert(added == expected, s"registerAll added $added")
    // end-to-end through a registry-backed build: the parse expression
    // constructed by the injected builder evaluates like the Column API
    val built = reg.lookupFunction(FunctionIdentifier("poly_hash31"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal("abc")))
    assert(built.eval(null) ==
      graft.functions.TextHashes.polyHash31(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    // catalog metadata is truthful: name/class, not usage-in-name-slot
    val info = reg.lookupFunction(FunctionIdentifier("poly_hash31")).get
    assert(info.getName == "poly_hash31")
    assert(info.getClassName == "graft.functions.PolyHash31")
  }

  test("sign_projections with a non-literal n/salt raises the friendly error, not an unbound eval") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types.IntegerType
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.testbridge.registerFunctions(
      ext, new SimpleFunctionRegistry)
    val colRef = AttributeReference("n", IntegerType)()
    val err = intercept[IllegalArgumentException] {
      reg.lookupFunction(FunctionIdentifier("sign_projections"),
        Seq(Literal.create(Seq(1L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)), colRef, Literal(7L)))
    }
    assert(err.getMessage.contains("numeric literal"), err.getMessage)
  }
}
