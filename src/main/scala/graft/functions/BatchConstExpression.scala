package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** A constant that changes from one micro-batch to the next (a commit
  * version, a commit timestamp), bound BY REFERENCE instead of as a
  * literal. Catalyst writes a `Literal`'s value into the generated Java
  * source, and the codegen cache is keyed on that source text, so a
  * per-batch literal makes every batch compile its whole stage afresh
  * and leaves one dead class per batch in the cache. This leaf passes
  * its value through `ctx.addReferenceObj` (the binding
  * [[graft.delta.DvProbeExpr]] uses), so two batches of one plan shape
  * generate identical code and the second hits the cache.
  *
  * Not foldable, so the optimizer never turns it back into a literal;
  * deterministic, so it still behaves as a constant everywhere else.
  * `value` is Catalyst's internal form for `dataType` and never null. */
case class BatchConst(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "BatchConst binds a non-null value")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConst", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "batch_const"
  override def toString: String = s"$prettyName(${Literal(value, dataType)})"
  override def sql: String = Literal(value, dataType).sql
}

object BatchConst {
  def long(v: Long): Column = Bridge.column(BatchConst(v, LongType))

  /** A timestamp from epoch milliseconds (stored as epoch micros). */
  def timestampMs(ms: Long): Column =
    Bridge.column(BatchConst(ms * 1000L, TimestampType))
}
