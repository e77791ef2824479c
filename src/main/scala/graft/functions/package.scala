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

  /** 64-bit SimHash document fingerprint over a token array. */
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  /** Karp-Rabin rolling polynomial fingerprint of a string. */
  def rolling_hash(c: Column): Column = column(RollingHash(expression(c)))

  /** Distinct word 3-gram shingles (codegen'd loop — the HOF form was ~17×
    * slower, see Shingles3).
    */
  def shingles3(c: Column): Column = column(Shingles3(expression(c)))

  /** All word 3-gram shingles in position order, duplicates kept. */
  def shingles3_pos(c: Column): Column = column(Shingles3Pos(expression(c)))

  /** Cross-engine polynomial fingerprint (mod 2^31-1, first 64 bytes). */
  def poly_hash31(c: Column): Column = column(PolyHash31(expression(c)))

  /** Cross-engine 31-bit SimHash over a token array. */
  def simhash_poly(c: Column): Column = column(SimHashPoly(expression(c)))

  /** Content-defined chunk boundaries via rolling PolyHash31 (codegen'd
    * O(L) loop — value-identical to hashing each window from scratch).
    */
  def cdc_boundaries(c: Column, window: Int, divisor: Long): Column =
    column(CdcBoundaries(expression(c), window, divisor))

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

  /** Adjacent-token bigram (f2, f1) hash-pair structs in one codegen'd
    * pass (byte-identical to poly_hash31 over concat_ws / its
    * substring_index prefix — the t25/t31 explode kernel).
    */
  def bigram_hash_pairs(c: Column): Column =
    column(BigramHashPairs(expression(c)))

  /** Trained-BPE token count of a word array under a literal merge list
    * (codegen'd loop — replaces the per-word interpreted aggregate+replace
    * chain of the serving-side merge replay).
    */
  def bpe_token_count(c: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokenCount(expression(c), merges))

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

  /** Register the library's expressions in the session's function registry
    * so plain SQL can call them: parse_turn(text), simhash64(arr),
    * rolling_hash(text).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("parse_turn",
      exprs => ParseTurn(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      exprs => SimHash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("rolling_hash",
      exprs => RollingHash(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("valid_turn",
      exprs => ValidTurn(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("json_kv_raw",
      exprs => JsonKvRaw(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("json_unquote",
      exprs => JsonUnquote(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("json_arr_raw",
      exprs => JsonArrRaw(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("poly_hash31",
      exprs => PolyHash31(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash_poly",
      exprs => SimHashPoly(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingles3",
      exprs => Shingles3(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("dot_long",
      exprs => DotLong(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("sign_projections",
      exprs => SignProjections(exprs(0), litNum(exprs(1)).toInt,
        litNum(exprs(2))), "scala_udf")
    reg.createOrReplaceTempFunction("cdc_boundaries",
      exprs => CdcBoundaries(exprs(0), litNum(exprs(1)).toInt,
        litNum(exprs(2))), "scala_udf")
  }

  /** Foldable numeric argument of a SQL call (n/salt of sign_projections).
    * Foldability is checked BEFORE eval: eval(null) on a column reference
    * throws an opaque unbound-attribute error instead of this message.
    * Shared by both registration paths (this registry helper and
    * GraftExtensions) — one definition, one behavior.
    */
  private[graft] def litNum(e: Expression): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"expected a numeric literal argument, got non-literal $e")
    e.eval(null) match {
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"expected a numeric literal argument, got $other")
    }
  }
}
