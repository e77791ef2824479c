package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen'd text kernels: the cross-engine polynomial hash and
  * the loops built on it (bigram hash pairs, trained-BPE token counts).
  * Each stays inside whole-stage codegen via static calls; no boxing, no
  * regex, no UDF serialization.
  */

/** Polynomial string hash mod 2^31-1 over the first 64 bytes — the
  * CROSS-ENGINE fingerprint tier: unlike xxhash64/FNV (64-bit overflow
  * wraparound, engine-specific), this is plain int64 arithmetic that DuckDB
  * reproduces exactly (ascii(substr(s,j,1)) == byte j for ASCII corpora;
  * TextOracles mirrors it), so the MinHash queries built on it get full
  * rows+schema+hash oracles.
  */
case class PolyHash31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash31 expects string, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextHashes.polyHash31(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.polyHash31($c)")

  override def prettyName: String = "poly_hash31"

  override protected def withNewChildInternal(newChild: Expression): PolyHash31 =
    copy(child = newChild)
}

/** Adjacent-token bigram hash pairs in one codegen'd pass:
  * array<struct<f2, f1>> with, for each adjacent pair (w1, w2),
  *   f2 = poly_hash31(concat_ws(" ", w1, w2))
  *   f1 = poly_hash31(substring_index(that, " ", 1))
  * replicated at the BYTE level (same 64-byte window, same concat_ws
  * null-skip, same first-space prefix rule) — so the t25/t31 bigram
  * explode stops building one intermediate string + two hash passes
  * per bigram through interpreted HOF lambdas. A null/short token array
  * yields an empty result, exactly like the
  * `when(size(t) >= 2, transform(...)).otherwise(array())` form.
  */
case class BigramHashPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigram_hash_pairs expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("f2", LongType, nullable = false),
      StructField("f1", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TextHashes.emptyBigramArray
    else TextHashes.bigramHashPairs(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    ev.copy(
      code = childGen.code +
        code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${childGen.isNull} ?
          graft.functions.TextHashes.emptyBigramArray() :
          graft.functions.TextHashes.bigramHashPairs(${childGen.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def prettyName: String = "bigram_hash_pairs"

  override protected def withNewChildInternal(newChild: Expression): BigramHashPairs =
    copy(child = newChild)
}

/** Trained-BPE token count of a word array in one codegen'd pass — the
  * serving-side replay `aggregate(words, 0, (acc, w) -> acc +
  * symCount(merge-chain(wrap(w))))` ran an interpreted lambda per word
  * with a `replace` call per merge per word. Semantics replicated
  * exactly: wrap = every char piped ("the" → "|t||h||e|"), each merge
  * (a, b) is a left-to-right non-overlapping replace of "|a||b|" with
  * "|ab|" (String.replace == Catalyst replace), count = pipes/2 summed
  * over words. Null array or a null element yields NULL, exactly like
  * the aggregate form (a null word poisons the running sum).
  */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextHashes.bpeTokenCount(input.asInstanceOf[ArrayData],
      merges.map(m => (m._1, m._2)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("merges",
      merges.map(m => (m._1, m._2)).toArray, "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}Boxed =
        graft.functions.TextHashes.bpeTokenCount($c, $ref);
      if (${ev.value}Boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}Boxed.longValue(); }
    """)
  }

  override def prettyName: String = "bpe_token_count"

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object TextHashes {
  /** 2^31 - 1 (Mersenne prime) — the cross-engine modulus. */
  final val P31 = 2147483647L
  /** polynomial base */
  final val B31 = 131L
  /** hash window: first 64 bytes (ASCII ⇒ 64 chars, mirrored in SQL) */
  final val MaxPolyLen = 64

  def polyHash31(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = math.min(bytes.length, MaxPolyLen)
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B31 + (bytes(i) & 0xffL)) % P31
      i += 1
    }
    h
  }

  // ---- BigramHashPairs kernel helpers -----------------------------------

  private val emptyBigrams =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  def emptyBigramArray: ArrayData = emptyBigrams

  /** [[polyHash31]] over a raw byte array (same 64-byte window). */
  private def hashBytes(bytes: Array[Byte], len: Int): Long = {
    val n = math.min(len, MaxPolyLen)
    var h = 0L
    var i = 0
    while (i < n) { h = (h * B31 + (bytes(i) & 0xffL)) % P31; i += 1 }
    h
  }

  /** polyHash31 of (a ++ ' ' ++ b) without materializing the concatenation
    * — byte-identical to hashing the concat_ws(" ", a, b) string.
    */
  private def hashConcat(a: Array[Byte], b: Array[Byte]): Long = {
    var h = 0L
    var cnt = 0
    var i = 0
    while (i < a.length && cnt < MaxPolyLen) {
      h = (h * B31 + (a(i) & 0xffL)) % P31; i += 1; cnt += 1
    }
    if (cnt < MaxPolyLen) { h = (h * B31 + 0x20L) % P31; cnt += 1 }
    i = 0
    while (i < b.length && cnt < MaxPolyLen) {
      h = (h * B31 + (b(i) & 0xffL)) % P31; i += 1; cnt += 1
    }
    h
  }

  /** polyHash31 of the prefix before the first 0x20 byte (the
    * substring_index(s, " ", 1) rule; a space is a single UTF-8 byte that
    * never occurs inside a multibyte sequence, so the byte scan is exact).
    */
  private def hashPrefixBeforeSpace(bytes: Array[Byte]): Long = {
    var j = 0
    while (j < bytes.length && bytes(j) != 0x20) j += 1
    hashBytes(bytes, j)
  }

  /** See [[BpeTokenCount]]. */
  def bpeTokenCount(words: ArrayData,
                    merges: Array[(String, String)]): java.lang.Long = {
    val n = words.numElements()
    var total = 0L
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) return null
      val w = words.getUTF8String(i).toString
      // wrap: every char piped
      val sb = new java.lang.StringBuilder(w.length * 3)
      var j = 0
      while (j < w.length) {
        sb.append('|').append(w.charAt(j)).append('|')
        j += 1
      }
      var repr = sb.toString
      var m = 0
      while (m < merges.length) {
        val (a, b) = merges(m)
        repr = repr.replace("|" + a + "||" + b + "|", "|" + a + b + "|")
        m += 1
      }
      // symbol count = pipes / 2
      var pipes = 0
      j = 0
      while (j < repr.length) {
        if (repr.charAt(j) == '|') pipes += 1
        j += 1
      }
      total += pipes / 2
      i += 1
    }
    java.lang.Long.valueOf(total)
  }

  /** See [[BigramHashPairs]]. For each adjacent token pair the emitted
    * struct is (f2, f1) with the exact concat_ws null-skip semantics:
    * a null side drops out of the joined string (split() never produces
    * null tokens, but the contract must match the expression form it
    * replaces on any input).
    */
  def bigramHashPairs(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < 2) return emptyBigrams
    val bs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bs(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 1
    while (i < n) {
      val a = bs(i - 1)
      val b = bs(i)
      val f2 =
        if (a == null && b == null) 0L
        else if (a == null) hashBytes(b, b.length)
        else if (b == null) hashBytes(a, a.length)
        else hashConcat(a, b)
      // prefix of the joined string before its first space: with a
      // present that is a up to ITS first space (the separator otherwise
      // ends it); with a absent the joined string is just b
      val f1 =
        if (a != null) hashPrefixBeforeSpace(a)
        else if (b != null) hashPrefixBeforeSpace(b)
        else 0L
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](f2, f1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
