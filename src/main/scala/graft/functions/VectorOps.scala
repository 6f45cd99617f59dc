package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector arithmetic over `array<float>` / `array<double>`
  * columns — the embedding hot path.
  *
  * The higher-order-function spelling
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) computes the same
  * values, but lambda-bearing expressions are NOT codegen-supported:
  * they run interpreted and break the WholeStageCodegen span around
  * the scan (the same finding PlanAuditSpec surfaced for q13's
  * fitness). These expressions keep similarity scoring fused: one
  * tight loop, no intermediate product array, float widening done
  * element-wise exactly like the `cast`+HOF chain, and the
  * accumulation order matches the sequential fold — results are
  * bit-identical to the HOF twins (asserted in VectorOpsSpec).
  */
private[functions] trait VectorBinaryOp extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  // both guards match instead of casting: `nullable` can be queried
  // during analysis BEFORE checkInputDataTypes rejects a mistyped
  // plan, and an asInstanceOf here would surface a ClassCastException
  // in place of the intended clean type-check error
  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Whether a side's array may carry NULL slots. A null element makes
    * the whole result NULL — matching the HOF twin, where the
    * null product poisons the `aggregate` fold. The check is emitted
    * only when the schema admits nulls, so the
    * containsNull=false hot path stays a branch-free loop. */
  protected def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  /** Interpreted element read, widened to double. */
  protected def elem(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Codegen element read, widened to double. */
  protected def elemCode(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  /** Codegen null-slot guard: breaks the loop with the hasNull flag
    * set; empty when the schema forbids null slots. */
  protected def nullGuard(arr: String, i: String, nullable: Boolean,
      hasNull: String): String =
    if (nullable) s"if ($arr.isNullAt($i)) { $hasNull = true; break; }" else ""
}

/** Σ a(i)·b(i) over min(len) elements (zip_with semantics: the HOF
  * twin null-pads the shorter side, making those products null and the
  * fold null — we instead stop at the shorter length; callers in this
  * library always pass equal-length vectors). A NULL element in the
  * read range yields NULL (the HOF twin's poisoned fold). */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryOp {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += elem(x, i, fx) * elem(y, i, fy)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val hasNull = ctx.freshName("hasNull")
      // when neither schema admits null slots the guards are empty and
      // hasNull is statically false — emit the plain assignment (and
      // never touch ev.isNull, which is a literal for non-nullable ev)
      val finish =
        if (elemNullable(left) || elemNullable(right))
          s"if ($hasNull) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }"
        else s"${ev.value} = $acc;"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${nullGuard(x, i, elemNullable(left), hasNull)}
         |  ${nullGuard(y, i, elemNullable(right), hasNull)}
         |  $acc += ${elemCode(x, i, elemIsFloat(left))} *
         |    ${elemCode(y, i, elemIsFloat(right))};
         |}
         |$finish
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : DotProduct = copy(left = l, right = r)

  override def prettyName: String = "dot_product"
}

/** cos(a, b) = a·b / (|a|·|b|); NULL for a zero-norm side (the
  * try_divide discipline — a direction-less vector cannot rank) and
  * for any NULL element on either side (the HOF twin's poisoned
  * fold — norms are dot(a,a)/dot(b,b), so a null slot nulls them). */
case class CosineSim(left: Expression, right: Expression) extends VectorBinaryOp {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (elemIsFloat(left), elemIsFloat(right))
    // norms run each side's FULL length (matching dot(a,a)/dot(b,b)),
    // so a null slot ANYWHERE in either array poisons the result
    var i = 0
    while (i < x.numElements()) { if (x.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < y.numElements()) { if (y.isNullAt(i)) return null; i += 1 }
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    i = 0
    while (i < n) { dot += elem(x, i, fx) * elem(y, i, fy); i += 1 }
    var aa = 0.0
    i = 0
    while (i < x.numElements()) { val v = elem(x, i, fx); aa += v * v; i += 1 }
    var bb = 0.0
    i = 0
    while (i < y.numElements()) { val v = elem(y, i, fy); bb += v * v; i += 1 }
    val denom = math.sqrt(aa) * math.sqrt(bb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val v = ctx.freshName("v")
      val denom = ctx.freshName("denom")
      val hasNull = ctx.freshName("hasNull")
      // null-slot scans emitted only for sides whose schema admits
      // null elements; ev.isNull always exists (nullable = true)
      val scanX =
        if (elemNullable(left))
          s"""for (int $i = 0; $i < $x.numElements() && !$hasNull; $i++) {
             |  if ($x.isNullAt($i)) $hasNull = true;
             |}""".stripMargin
        else ""
      val scanY =
        if (elemNullable(right))
          s"""for (int $i = 0; $i < $y.numElements() && !$hasNull; $i++) {
             |  if ($y.isNullAt($i)) $hasNull = true;
             |}""".stripMargin
        else ""
      s"""
         |boolean $hasNull = false;
         |$scanX
         |$scanY
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ${elemCode(x, i, elemIsFloat(left))} *
         |      ${elemCode(y, i, elemIsFloat(right))};
         |  }
         |  double $aa = 0.0;
         |  for (int $i = 0; $i < $x.numElements(); $i++) {
         |    double $v = ${elemCode(x, i, elemIsFloat(left))};
         |    $aa += $v * $v;
         |  }
         |  double $bb = 0.0;
         |  for (int $i = 0; $i < $y.numElements(); $i++) {
         |    double $v = ${elemCode(y, i, elemIsFloat(right))};
         |    $bb += $v * $v;
         |  }
         |  double $denom = java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb);
         |  if ($denom == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineSim = copy(left = l, right = r)

  override def prettyName: String = "cosine_sim"
}

/** All `tables` random-hyperplane sign buckets of one vector in ONE
  * fused loop: bucket(t) = OR over p of (Σ e(d)·plane(t,p,d) > 0 ?
  * 1L<<p : 0) — element-for-element the spelling
  * `array(bucketOf(0), …, bucketOf(tables-1))` built from
  * tables×planes separate [[DotProduct]] subtrees computes, with
  * identical IEEE accumulation order and identical NULL collapse (a
  * NULL vector or any NULL element makes every `dot > 0` predicate
  * UNKNOWN, so every `when` falls to its `otherwise(0)` — here: an
  * all-zero bucket array; the row itself never nulls out, matching
  * the posexplode consumers).
  *
  * Why it exists: the expression-tree spelling generates one 64-
  * iteration loop PER (table, plane) into a single projection method
  * — at the LSH defaults that is 32-48 fused loops whose generated
  * code blows past the JIT's huge-method compile threshold, leaving
  * the hot projection INTERPRETED (measured: a 12×4-table banding
  * projection ran ~25µs per dot, ~250× its arithmetic; 16 subtrees
  * were fine, 48 fell off the cliff). One expression, one small
  * triple loop over a primitive double[] reference: the method stays
  * JIT-compilable at any (tables, planes). */
case class HyperplaneBuckets(child: Expression,
    hyper: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def tables = hyper.length
  private def planes = if (tables == 0) 0 else hyper.head.length
  private def dim =
    if (tables == 0 || planes == 0) 0 else hyper.head.head.length

  @transient private lazy val flat: Array[Double] = {
    val f = new Array[Double](tables * planes * dim)
    var t = 0
    while (t < tables) {
      var p = 0
      while (p < planes) {
        System.arraycopy(hyper(t)(p), 0, f, (t * planes + p) * dim, dim)
        p += 1
      }
      t += 1
    }
    f
  }

  // VALUE-based equality over the nested array param: the case-class
  // default compares Array by reference, so two separately built but
  // content-identical instances would never be semanticEquals — which
  // silently defeats CSE/ReuseExchange for any call site that rebuilds
  // the hyperplane arrays (current call sites share one instance; this
  // closes the latent hole)
  override def equals(other: Any): Boolean = other match {
    case h: HyperplaneBuckets =>
      child == h.child &&
        java.util.Arrays.deepEquals(
          hyper.asInstanceOf[Array[AnyRef]], h.hyper.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(hyper.asInstanceOf[Array[AnyRef]])

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  // a NULL/null-bearing vector yields the ALL-ZERO bucket row, never a
  // NULL row — the when/otherwise collapse of the subtree spelling
  override def nullable: Boolean = false

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Long](tables)
    val a = child.eval(input)
    if (a != null) {
      val x = a.asInstanceOf[ArrayData]
      val isF = elemIsFloat
      val n = math.min(x.numElements(), dim)
      var hasNull = false
      var i = 0
      while (i < n && !hasNull) { if (x.isNullAt(i)) hasNull = true; i += 1 }
      if (!hasNull) {
        var t = 0
        while (t < tables) {
          var bucket = 0L
          var p = 0
          while (p < planes) {
            val base = (t * planes + p) * dim
            var acc = 0.0
            var d = 0
            while (d < n) {
              acc += (if (isF) x.getFloat(d).toDouble else x.getDouble(d)) *
                flat(base + d)
              d += 1
            }
            if (acc > 0) bucket |= (1L << p)
            p += 1
          }
          out(t) = bucket
          t += 1
        }
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val flatRef = ctx.addReferenceObj("hyperplanes", flat, "double[]")
    val out = ctx.freshName("buckets")
    val x = ctx.freshName("x")
    val n = ctx.freshName("n")
    val hasNull = ctx.freshName("hasNull")
    val i = ctx.freshName("i")
    val t = ctx.freshName("t")
    val p = ctx.freshName("p")
    val d = ctx.freshName("d")
    val acc = ctx.freshName("acc")
    val base = ctx.freshName("base")
    val bucket = ctx.freshName("bucket")
    val elem =
      if (elemIsFloat) s"(double) $x.getFloat($d)" else s"$x.getDouble($d)"
    val code =
      code"""
        |${childGen.code}
        |long[] $out = new long[$tables];
        |if (!${childGen.isNull}) {
        |  org.apache.spark.sql.catalyst.util.ArrayData $x = ${childGen.value};
        |  int $n = java.lang.Math.min($x.numElements(), $dim);
        |  boolean $hasNull = false;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($x.isNullAt($i)) { $hasNull = true; break; }
        |  }
        |  if (!$hasNull) {
        |    for (int $t = 0; $t < $tables; $t++) {
        |      long $bucket = 0L;
        |      for (int $p = 0; $p < $planes; $p++) {
        |        int $base = ($t * $planes + $p) * $dim;
        |        double $acc = 0.0;
        |        for (int $d = 0; $d < $n; $d++) {
        |          $acc += $elem * $flatRef[$base + $d];
        |        }
        |        if ($acc > 0) $bucket |= (1L << $p);
        |      }
        |      $out[$t] = $bucket;
        |    }
        |  }
        |}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
       """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression)
      : HyperplaneBuckets = copy(child = c)

  override def prettyName: String = "hyperplane_buckets"
}

/** Every (subspace, centroid) dot of the product-quantization family
  * in ONE expression: out[j·cb + c] = ⟨e[j·sub .. j·sub+sub),
  * books(j)(c)⟩ — element-for-element what the
  * `dot(slice(e, j·sub+1, sub), books(j)(c))` subtree spelling
  * computes, including its null semantics (NULL vector or a NULL
  * element inside subspace j's read range nulls exactly subspace j's
  * entries; a vector shorter than j·sub yields 0.0 — the empty-slice
  * fold) and its IEEE accumulation order.
  *
  * Why: the subtree spelling plants m·codebookSize (=256 at the PQ
  * defaults) DotProduct+Slice+64-literal-array subtrees in one
  * projection — the [[HyperplaneBuckets]] JIT cliff again, plus an
  * expression tree that costs more to ANALYZE per statement than the
  * query runs (measured: sim_pq_drift spent 0.87 s of its 1.05 s rep
  * in the driver gap). One reference object, one triple loop. */
case class SubspaceDots(child: Expression,
    books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private def m = books.length
  private def cb = if (m == 0) 0 else books.head.length
  private def sub = if (m == 0 || cb == 0) 0 else books.head.head.length

  // value-based equality over the codebook array — see the
  // HyperplaneBuckets override (same latent CSE/ReuseExchange hole)
  override def equals(other: Any): Boolean = other match {
    case s: SubspaceDots =>
      child == s.child &&
        java.util.Arrays.deepEquals(
          books.asInstanceOf[Array[AnyRef]], s.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)

  // the ARRAY itself never nulls — a NULL vector nulls every element,
  // matching array(dot(slice(NULL)...)) = array of NULLs
  override def nullable: Boolean = false

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Any](m * cb)
    val a = child.eval(input)
    if (a != null) {
      val x = a.asInstanceOf[ArrayData]
      val isF = elemIsFloat
      val len = x.numElements()
      var j = 0
      while (j < m) {
        val start = j * sub
        // slice(e, start+1, sub) length: clamped to the remainder;
        // entirely past the end = empty slice = 0.0 dots
        val n = math.max(0, math.min(len - start, sub))
        var hasNull = false
        var i = 0
        while (i < n && !hasNull) {
          if (x.isNullAt(start + i)) hasNull = true
          i += 1
        }
        var c = 0
        while (c < cb) {
          if (hasNull) out(j * cb + c) = null
          else {
            val plane = books(j)(c)
            var acc = 0.0
            var d = 0
            while (d < n) {
              acc += (if (isF) x.getFloat(start + d).toDouble
                else x.getDouble(start + d)) * plane(d)
              d += 1
            }
            out(j * cb + c) = acc
          }
          c += 1
        }
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : SubspaceDots = copy(child = c)

  override def prettyName: String = "subspace_dots"
}

/** The m per-subspace SELF dots ⟨x_j, x_j⟩ of the PQ error audit, one
  * expression — same slicing and null semantics as [[SubspaceDots]]. */
case class SubspaceSelfDots(child: Expression, m: Int, sub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.catalogString}")
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Any](m)
    val a = child.eval(input)
    if (a != null) {
      val x = a.asInstanceOf[ArrayData]
      val isF = elemIsFloat
      val len = x.numElements()
      var j = 0
      while (j < m) {
        val start = j * sub
        val n = math.max(0, math.min(len - start, sub))
        var hasNull = false
        var acc = 0.0
        var d = 0
        while (d < n && !hasNull) {
          if (x.isNullAt(start + d)) hasNull = true
          else {
            val v = if (isF) x.getFloat(start + d).toDouble
              else x.getDouble(start + d)
            acc += v * v
          }
          d += 1
        }
        out(j) = if (hasNull) null else acc
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression)
      : SubspaceSelfDots = copy(child = c)

  override def prettyName: String = "subspace_self_dots"
}

object VectorOps {

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All multi-table sign-LSH buckets of `e` in one fused expression —
    * see [[HyperplaneBuckets]]. */
  def hyperplaneBuckets(e: Column,
      hyper: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(HyperplaneBuckets(ColumnBridge.expression(e), hyper))

  /** Every (subspace, centroid) dot in one fused expression — see
    * [[SubspaceDots]]. */
  def subspaceDots(e: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(SubspaceDots(ColumnBridge.expression(e), books))

  /** Per-subspace self dots ⟨x_j, x_j⟩ — see [[SubspaceSelfDots]]. */
  def subspaceSelfDots(e: Column, m: Int, sub: Int): Column =
    ColumnBridge.column(SubspaceSelfDots(ColumnBridge.expression(e), m, sub))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
