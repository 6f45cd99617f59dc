package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: total popcount of an `array<bigint>`
  * bit-packed genome — the reference's fitness function
  * (/root/reference/src/edu/illinois/ga/MapReduce.java:100-111) as a
  * single codegen'd loop.
  *
  * This is the SURVEY §4 "needs custom code" item 1: functionally the
  * built-in `aggregate(transform(g, bit_count), 0, +)` chain computes
  * the same thing, but that plan allocates an intermediate array and
  * evaluates two lambda closures per row; this expression compiles to
  * `for (i) sum += Long.bitCount(arr.getLong(i))` inside the enclosing
  * WholeStageCodegen stage — no allocation, no virtual calls. Falls
  * back to an identical interpreted loop when codegen is disabled.
  */
case class PopCountArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"popcount_array requires array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var sum = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) sum += java.lang.Long.bitCount(arr.getLong(i))
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |long $sum = 0L;
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $sum += java.lang.Long.bitCount($arr.getLong($i));
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PopCountArray =
    copy(child = newChild)

  override def prettyName: String = "popcount_array"
}

object PopCountArray {

  /** Column-API entry point. */
  def popcountArray(c: Column): Column =
    ColumnBridge.column(PopCountArray(ColumnBridge.expression(c)))
}
