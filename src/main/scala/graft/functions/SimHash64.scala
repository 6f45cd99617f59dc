package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: 64-bit SimHash of a token array in one
  * fused loop — hash each token with xxHash64 (seed 42, identical to
  * the built-in `xxhash64`), accumulate 64 signed bit counters, and
  * collapse counter signs into one word.
  *
  * Semantically equal to the higher-order-function spelling
  * (TextFunctions.simhashCounters + simhashFromCounters), but that
  * plan materializes a fresh 64-element array PER TOKEN inside
  * `aggregate` — O(tokens x 64) allocations per document and the top
  * cost of the sf0.1 dedup_simhash bench entry. Here the counters are
  * a single reused long[64] (codegen: per-stage mutable state), so a
  * document costs one hash + 64 adds per token and zero allocation.
  *
  * Reference counterpart: none (SURVEY.md §2.3 extension surface);
  * the bit-packing discipline mirrors the genome popcount op
  * (/root/reference/src/edu/illinois/ga/MapReduce.java:100-111).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counters = new Array[Long](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          counters(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counters = ctx.addMutableState("long[]", "simhashCounters",
        v => s"$v = new long[64];")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |java.util.Arrays.fill($counters, 0L);
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($arr.getUTF8String($i), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $counters[$b] += ((($h >>> $b) & 1L) == 1L) ? 1L : -1L;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counters[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  /** Column-API entry point. */
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))
}
