package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd vector kernels for the embedding queries. The declarative HOF
  * forms (`aggregate(zip_with(...))`, `transform(sequence...)`) execute
  * through interpreted per-element lambdas — measured as the dominant cost
  * of every embedding query at sf0.1 (same lesson as Shingles3). These
  * loops keep the arithmetic IDENTICAL (the DuckDB oracles mirror the
  * formulas, not the execution), so results are bit-equal.
  */

/** Integer dot product of two long arrays — NULL on length mismatch or a
  * null element, matching the `aggregate(zip_with(...))` form it replaced
  * (zip_with null-pads the short side and the null poisons the sum), so a
  * corrupt/truncated vector drops out of top-k instead of ranking with a
  * plausible partial score.
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_long expects two array<bigint>, got $other")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}Boxed = graft.functions.VectorOps.dotLong($a, $b);
      if (${ev.value}Boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}Boxed.longValue(); }
    """)

  override def prettyName: String = "dot_long"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

/** The n projections of a quantized vector onto the deterministic ±1
  * direction family `sign(p, i) = ((((p·131071 + i + 1)·HashMul + salt)
  * mod 2³²) >> 16) & 1 ? 1 : -1` — one Java loop instead of n interpreted
  * HOF dot products. Used as LSH sign bits (proj > 0).
  */
case class SignProjections(child: Expression, n: Int, salt: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_projections expects array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.signProjections(input.asInstanceOf[ArrayData], n, salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.signProjections($c, $n, ${salt}L)")

  override def prettyName: String = "sign_projections"

  override protected def withNewChildInternal(newChild: Expression): SignProjections =
    copy(child = newChild)
}

/** Per-row array of (dist, cell) structs of a quantized vector against a
  * LITERAL centroid matrix — one expression node replacing the
  * nCells × dim inlined-literal tree `Similarity.cellDists` built with
  * `array(struct(lit(c2) - 2·dot_long(typedLit(cv), q), lit(ci)))`.
  * The arithmetic is IDENTICAL (dist = ||c||² − 2·x·c in exact int64,
  * struct order (dist, cell) so min/sort tie-breaks lexicographically);
  * what changes is plan size: Catalyst walked ~nCells·dim literal leaves
  * per optimizer rule per query, which dominated the driver time at
  * bench scale. Null contract matches the tree form: a null input array
  * or a length-mismatched/null-element vector yields null DISTS
  * (dot_long's contract) inside non-null structs — the expression itself
  * never returns null.
  */
case class CellDists(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cell_dists expects array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dist", LongType, nullable = true),
      StructField("cell", IntegerType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    VectorOps.cellDists(
      if (v == null) null else v.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("cents", cents, "long[][]")
    ev.copy(
      code = childGen.code +
        code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.VectorOps.cellDists(
            ${childGen.isNull} ? null : ${childGen.value}, $ref);""",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "cell_dists"

  override protected def withNewChildInternal(newChild: Expression): CellDists =
    copy(child = newChild)
}

/** `transform(e, x => round(cast(x as double) * 10000).cast("long"))` as
  * one codegen'd loop — the embedding quantization projection ran through
  * interpreted HOF lambdas on every corpus scan. Semantics replicated
  * exactly: widening float→double cast, ×10000 double multiply, Spark
  * `round` = decimal HALF_UP at scale 0 (away-from-zero midpoints —
  * NOT Math.round), integral double → long cast; null elements stay
  * null, a null array stays null. Differential-checked bit-identical
  * against the HOF form over the corpus + midpoint/edge values
  * (tools.QuantizeKernelCheck).
  */
case class QuantizeVec(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec expects array<float|double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // lazy: the expression is constructed over unresolved attributes, whose
  // dataType is only available after analysis
  private lazy val fromDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    VectorOps.quantizeVec(input.asInstanceOf[ArrayData], fromDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.quantizeVec($c, $fromDouble)")

  override def prettyName: String = "quantize_vec"

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object VectorOps {

  /** Knuth multiplicative hash constants — the single source of truth for
    * the ±1 sign families (Similarity re-exports them; SimOracles renders
    * the same digits into DuckDB SQL).
    */
  final val HashMul = 2654435761L
  final val HashMod = 4294967296L

  def dotLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** dot of an ArrayData vector against a plain long[] — null on length
    * mismatch or a null element, the [[dotLong]] contract.
    */
  private def dotRef(q: ArrayData, cv: Array[Long]): java.lang.Long = {
    if (q.numElements() != cv.length) return null
    var acc = 0L
    var i = 0
    while (i < cv.length) {
      if (q.isNullAt(i)) return null
      acc += q.getLong(i) * cv(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def cellDists(q: ArrayData, cents: Array[Array[Long]]): ArrayData = {
    val out = new Array[Any](cents.length)
    var ci = 0
    while (ci < cents.length) {
      val cv = cents(ci)
      var c2 = 0L
      var i = 0
      while (i < cv.length) { c2 += cv(i) * cv(i); i += 1 }
      val dot = if (q == null) null else dotRef(q, cv)
      val dist: Any = if (dot == null) null else c2 - 2L * dot.longValue()
      out(ci) = new GenericInternalRow(Array[Any](dist, ci))
      ci += 1
    }
    new GenericArrayData(out)
  }

  def quantizeVec(a: ArrayData, fromDouble: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (a.isNullAt(i)) null
        else {
          val d = (if (fromDouble) a.getDouble(i)
                   else a.getFloat(i).toDouble) * 10000.0
          // Spark round(double) = decimal HALF_UP at scale 0 (midpoints
          // away from zero) — Math.round would differ at negative .5s.
          // NaN/±Inf pass through round and the long cast saturates,
          // matching the non-ANSI double→long cast
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
            java.lang.Long.valueOf(d.toLong)
          else java.lang.Long.valueOf(java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong)
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  def signProjections(q: ArrayData, n: Int, salt: Long): ArrayData = {
    val dim = q.numElements()
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) { v(i) = if (q.isNullAt(i)) 0L else q.getLong(i); i += 1 }
    val out = new Array[Any](n)
    var p = 0
    while (p < n) {
      var acc = 0L
      i = 0
      while (i < dim) {
        val h = ((p * 131071L + i + 1L) * HashMul + salt) % HashMod
        acc += (if (((h >> 16) & 1L) == 1L) v(i) else -v(i))
        i += 1
      }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }
}
