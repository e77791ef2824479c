package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass grok parse of a transcript turn's `text` column.
  *
  * Grammar (FIXTURES.md §1): `<OPTOKEN> <db>.<table> <json-payload>`,
  * the transcript analog of the reference's oplog entry fields
  * (`op`/`ns`/`o`, /root/reference/models/model.go:9-15; ns split on "."
  * at /root/reference/transformer/transformer.go:56-58).
  *
  * Why a custom Catalyst Expression (SURVEY.md §7.5): the naive parse is
  * 4+ `regexp_extract` calls, each re-scanning `text`; this expression does
  * one pass over the UTF8String with no regex engine and no String
  * allocation (UTF8String slices share the underlying bytes), and stays
  * inside whole-stage codegen via `defineCodeGen` → a static call — the
  * preferred "(b) custom Expression" tier, no custom plan node needed.
  *
  * Output: struct(op, db, tbl, payload), fields null when absent; an
  * unparseable text yields (text, null, null, null) so the dead-letter
  * filter (reference unknown-op guard, transformer.go:26-28) can route it.
  */
case class ParseTurn(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_turn expects a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = ParseTurn.schema

  override def nullSafeEval(input: Any): Any =
    ParseTurn.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ParseTurn.parse($c)")

  override def prettyName: String = "parse_turn"

  override protected def withNewChildInternal(newChild: Expression): ParseTurn =
    copy(child = newChild)
}

object ParseTurn {
  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = true),
    StructField("db", StringType, nullable = true),
    StructField("tbl", StringType, nullable = true),
    StructField("payload", StringType, nullable = true)))

  private val SPACE = UTF8String.fromString(" ")
  private val DOT = UTF8String.fromString(".")

  /** Single pass; called from generated code — must stay a static-shaped
    * (object) method with a stable signature.
    */
  def parse(text: UTF8String): InternalRow = {
    val n = text.numChars()
    val s1 = text.indexOf(SPACE, 0)
    if (s1 <= 0) return new GenericInternalRow(Array[Any](text, null, null, null))
    val op = text.substring(0, s1)
    val s2 = text.indexOf(SPACE, s1 + 1)
    val nsEnd = if (s2 < 0) n else s2
    val ns = text.substring(s1 + 1, nsEnd)
    val dot = ns.indexOf(DOT, 0)
    val db: UTF8String = if (dot < 0) ns else ns.substring(0, dot)
    val tbl: UTF8String = if (dot < 0) null else ns.substring(dot + 1, ns.numChars())
    val payload: UTF8String = if (s2 < 0 || s2 + 1 >= n) null else text.substring(s2 + 1, n)
    new GenericInternalRow(Array[Any](op, db, tbl, payload))
  }
}
