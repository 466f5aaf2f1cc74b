package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.EpochParam

/** [[EpochParam]] carries a per-epoch value into generated code without
  * making the code depend on it: both evaluation paths return the value,
  * the optimizer leaves it unfolded, and two plans that differ only in
  * the value generate the same whole-stage code text. */
class EpochParamSpec extends SparkSpec {

  private def frame(v: Column): DataFrame =
    spark.range(4).select((col("id") + v).as("x"))

  private def wholeStageCode(df: DataFrame): Seq[String] = {
    val ws = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    assert(ws.nonEmpty, df.queryExecution.executedPlan.toString)
    ws.map(_.doCodeGen()._2.body)
  }

  test("interpreted and generated evaluation both return the value") {
    assert(EpochParam(41L).eval() == 41L)
    val proj = GenerateUnsafeProjection.generate(Seq(EpochParam(42L)))
    assert(proj(null).getLong(0) == 42L)
    assert(frame(EpochParam.column(7L)).collect().map(_.getLong(0)).toSeq
      == Seq(7L, 8L, 9L, 10L))
  }

  test("the optimizer does not fold it into a literal") {
    val opt = frame(EpochParam.column(7L)).queryExecution.optimizedPlan
    assert(opt.expressions.exists(_.exists(_.isInstanceOf[EpochParam])),
      opt.toString)
    assert(!opt.expressions.exists(_.exists {
      case Literal(v, _) => v == 7L
      case _ => false
    }), opt.toString)
  }

  test("plans that differ only in its value generate identical code") {
    assert(wholeStageCode(frame(EpochParam.column(1L))) ==
      wholeStageCode(frame(EpochParam.column(2L))))
    // the literal it replaces inlines the value: the code differs
    assert(wholeStageCode(frame(lit(1L))) != wholeStageCode(frame(lit(2L))))
    // ... and the second value compiles nothing new
    frame(EpochParam.column(3L)).collect()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    assert(frame(EpochParam.column(4L)).collect().map(_.getLong(0)).toSeq
      == Seq(4L, 5L, 6L, 7L))
    assert(org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount == compiles)
  }
}
