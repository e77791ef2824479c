package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial string hash mod 2^31-1 over the first 64 bytes — the
  * CROSS-ENGINE fingerprint tier: unlike xxhash64/FNV (64-bit overflow
  * wraparound, engine-specific), this is plain int64 arithmetic that DuckDB
  * reproduces exactly (ascii(substr(s,j,1)) == byte j for ASCII corpora;
  * TextOracles mirrors it), so the MinHash queries built on it get full
  * rows+schema+hash oracles. Codegen'd: it stays inside whole-stage
  * codegen via a static call; no boxing, no regex, no UDF serialization.
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
}
