package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A LONG constant (the pipeline's epoch) that generated code reads from
  * its `references` array instead of inlining it as a Java literal, so
  * plans that differ only in the value share one compiled class in
  * Spark's codegen cache. Not foldable, so the optimizer keeps it out of
  * literals; a filter that Parquet should push down needs a `Literal`. */
case class EpochParam(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("epochParam", value, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

object EpochParam {
  def column(value: Long): Column =
    org.apache.spark.sql.graftbridge.column(EpochParam(value))
}
