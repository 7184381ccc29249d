package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.core.Plane

/** Native Catalyst expression: the ceil-halved 2× mean pool of one
  * row-major h×w plane payload — the pyramid step, evaluated inside the
  * plane row instead of exploding every pixel into a row and grouping it
  * back (no shuffle). Both the interpreted and the generated path call
  * the one kernel [[graft.core.Plane.meanPool2x]], which the OME-TIFF
  * pyramid also uses, so every sink's levels agree bit for bit.
  *
  * NULL when any input is NULL or the payload is empty; null pixels are
  * skipped like `avg` skips them (a block of only nulls pools to null);
  * a payload whose length is not h·w fails the task. */
final case class PoolHalf(pixels: Expression, h: Expression, w: Expression)
    extends TernaryExpression {

  override def first: Expression = pixels
  override def second: Expression = h
  override def third: Expression = w

  override def checkInputDataTypes(): TypeCheckResult =
    (pixels.dataType, h.dataType, w.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (p, hv, wv) => TypeCheckResult.TypeCheckFailure(
        s"pool_half(pixels array<double>, h int, w int) got " +
          s"${p.catalogString}, ${hv.catalogString}, ${wv.catalogString}")
    }

  override def dataType: DataType = ArrayType(DoubleType,
    pixels.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _                          => true
    })

  /** An empty payload pools to NULL even when every input is non-null. */
  override def nullable: Boolean = true

  override def prettyName: String = "pool_half"

  override protected def nullSafeEval(a: Any, hv: Any, wv: Any): Any =
    Plane.meanPool2x(a.asInstanceOf[ArrayData], hv.asInstanceOf[Int],
      wv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, hv, wv) =>
      s"""
         |${ev.value} = graft.core.Plane.meanPool2x($a, $hv, $wv);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PoolHalf =
    copy(pixels = newFirst, h = newSecond, w = newThird)
}

object PoolHalf {
  /** Column form: `PoolHalf($"pixels", $"h", $"w")`. */
  def apply(pixels: Column, h: Column, w: Column): Column =
    ColumnBridge.column(PoolHalf(ColumnBridge.expression(pixels),
      ColumnBridge.expression(h), ColumnBridge.expression(w)))
}
