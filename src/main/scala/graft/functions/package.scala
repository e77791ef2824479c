package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.bridge

/** Column <-> Expression bridge (Spark 4.x classic API) + the library's
  * public Column functions, mirroring org.apache.spark.sql.functions style.
  */
package object functions {

  def expression(c: Column): Expression = bridge.expression(c)

  def column(e: Expression): Column = bridge.column(e)

  /** Fused grok parse of a transcript turn: struct(op, db, tbl, payload). */
  def parse_turn(c: Column): Column = column(ParseTurn(expression(c)))

  /** Distinct word 3-gram shingles (codegen'd loop — the HOF form was ~17×
    * slower, see Shingles3).
    */
  def shingles3(c: Column): Column = column(Shingles3(expression(c)))

  /** All word 3-gram shingles in position order, duplicates kept. */
  def shingles3_pos(c: Column): Column = column(Shingles3Pos(expression(c)))

  /** Cross-engine polynomial fingerprint (mod 2^31-1, first 64 bytes). */
  def poly_hash31(c: Column): Column = column(PolyHash31(expression(c)))

  /** Integer dot product of two array<bigint> (codegen'd loop). */
  def dot_long(a: Column, b: Column): Column =
    column(DotLong(expression(a), expression(b)))

  /** n ±1-direction projections of a quantized vector (codegen'd loop). */
  def sign_projections(c: Column, n: Int, salt: Long): Column =
    column(SignProjections(expression(c), n, salt))

  /** (dist, cell) structs of a quantized vector vs a literal centroid
    * matrix (codegen'd loop — replaces the nCells×dim literal tree).
    */
  def cell_dists(c: Column, cents: Array[Array[Long]]): Column =
    column(CellDists(expression(c), cents))

  /** round(x·10⁴) int64 quantization of a float/double vector (codegen'd
    * loop, exact Spark-round HALF_UP semantics).
    */
  def quantize_vec(c: Column): Column = column(QuantizeVec(expression(c)))

  /** Single-pass op-whitelist + db-blacklist admission predicate. */
  def valid_turn(c: Column): Column = column(ValidTurn(expression(c)))

  /** Single-pass top-level JSON object reader: map<key, raw-value-token>.
    * Raw tokens keep quoting/braces so value TYPE is probeable downstream —
    * the information get_json_object destroys (a JSON string "89799" vs the
    * number 89799 render differently, transformer.go:37-48).
    */
  def json_kv_raw(c: Column): Column = column(JsonKvRaw(expression(c)))

  /** Decode a raw JSON string token to its value; passthrough otherwise. */
  def json_unquote(c: Column): Column = column(JsonUnquote(expression(c)))

  /** Split a raw JSON array token into raw element tokens. */
  def json_arr_raw(c: Column): Column = column(JsonArrRaw(expression(c)))

  /** Every SQL-callable expression: (name, expression class, builder).
    * Both registration paths read this one list — [[registerAll]] for
    * sessions the library builds, [[graft.GraftExtensions]] for sessions
    * configured with `spark.sql.extensions` — so they cannot drift apart.
    */
  private[graft] val sqlFunctions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("parse_turn", classOf[ParseTurn], e => ParseTurn(e.head)),
      ("valid_turn", classOf[ValidTurn], e => ValidTurn(e.head)),
      ("json_kv_raw", classOf[JsonKvRaw], e => JsonKvRaw(e.head)),
      ("json_unquote", classOf[JsonUnquote], e => JsonUnquote(e.head)),
      ("json_arr_raw", classOf[JsonArrRaw], e => JsonArrRaw(e.head)),
      ("poly_hash31", classOf[PolyHash31], e => PolyHash31(e.head)),
      ("shingles3", classOf[Shingles3], e => Shingles3(e.head)),
      ("dot_long", classOf[DotLong], e => DotLong(e(0), e(1))),
      ("sign_projections", classOf[SignProjections],
        e => SignProjections(e(0), litNum(e(1)).toInt, litNum(e(2)))))

  /** Register [[sqlFunctions]] in the session's function registry so plain
    * SQL can call them, e.g. parse_turn(text), poly_hash31(text).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }

  /** Foldable numeric argument of a SQL call (n/salt of sign_projections).
    * Foldability is checked BEFORE eval: eval(null) on a column reference
    * throws an opaque unbound-attribute error instead of this message.
    */
  private def litNum(e: Expression): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"expected a numeric literal argument, got non-literal $e")
    e.eval(null) match {
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"expected a numeric literal argument, got $other")
    }
  }
}
