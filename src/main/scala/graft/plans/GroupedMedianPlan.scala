package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** The exact grouped median as a FIRST-CLASS PHYSICAL OPERATOR — the
  * full custom-operator stack (LogicalPlan node → SparkStrategy →
  * SparkPlan) the extension ladder reserves for whole-operator
  * semantics, demonstrated on the one operator this engine already
  * argued built-ins cannot express scale-safely (ops.GroupedMedian's
  * Scaladoc: few groups × many near-unique values ⇒ every declarative
  * spelling funnels each group through one sort task).
  *
  * Where `ops.GroupedMedian` drops to the RDD API behind a function
  * call, this node participates in PLANNING: it declares its
  * distribution requirement (`OrderedDistribution` on (group, value))
  * so EnsureRequirements inserts the range-partitioning exchange + the
  * in-partition sort — the engine's own machinery builds the layout,
  * AQE sizes it, and EXPLAIN shows `GroupedMedianExec` like any
  * built-in operator. The exec then runs the same two-pass prefix-sum
  * walk over the sorted runs: pass 1 collects per-(partition, group)
  * row counts (#partitions × #groups longs — the documented few-groups
  * premise), the driver computes ⌈n/2⌉ target ranks and per-partition
  * prefix offsets, pass 2 emits the covering row per group. Median
  * values pass through UNTOUCHED, so the result hash-matches q23/q27's
  * oracle — one ground truth, three physical strategies.
  *
  * Registered via `GraftExtensions` (injectPlannerStrategy), which
  * every `graft.Session` carries.
  */
case class ExactGroupedMedian(groupAttr: Attribute, valueAttr: Attribute,
    override val output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  // median/n originate HERE, not in the child — declare them produced
  // so the analyzer's missing-attribute check accepts the node
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet -- child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object GroupedMedianStrategy extends SparkStrategy {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
  import org.apache.spark.sql.catalyst.planning.PhysicalOperation
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project, Window => LWindow}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExactGroupedMedian(g, v, out, child) =>
      GroupedMedianExec(g, v, out, planLater(child)) :: Nil
    // The DECLARATIVE grouped-median-by-rank pattern (q23's spelling):
    //
    //   Project [g, v AS median, n]
    //     Filter  isnotnull-guards ∧ (cum−cnt < (n+1) div 2 ≤ cum)
    //       Window [sum(cnt) OVER (PARTITION BY g)                 AS n  ]
    //         Window [sum(cnt) OVER (PARTITION BY g ORDER BY v
    //                               RANGE UNBOUNDED..CURRENT ROW)  AS cum]
    //           Aggregate [g, v] [g, v, count(1) AS cnt]
    //             child
    //
    // is the same order statistic GroupedMedianExec computes: on the
    // aggregate's output every (g, v) is DISTINCT, so the range-frame
    // cumulative count is the multiset prefix rank, and the filter
    // keeps exactly the value whose rank range covers ⌈n/2⌉ — the
    // (n+1)/2 target the exec walks to over the RAW rows. Planning it
    // as the custom operator replaces the 3-exchange funnel (partial/
    // final hash agg + per-group window sort: the whole table through
    // |groups| sort tasks) with ONE range exchange on (g, v) whose
    // boundaries split WITHIN groups — the q32 layout, now reached
    // from the declarative spelling by planning alone. Values pass
    // through untouched either way, so the result hash-matches the
    // shared q23/q27/q32 oracle (the gate proves it each round).
    //
    // The match is deliberately exact — wrong-frame windows, extra
    // filter conjuncts beyond the null guards, reordered projections
    // all fall through to the built-in planner untouched.
    case Project(projList,
        Filter(cond,
          LWindow(Seq(nAlias @ Alias(nWin: WindowExpression, _)), Seq(g2), Nil,
            LWindow(Seq(cumAlias @ Alias(cumWin: WindowExpression, _)),
              Seq(g1), Seq(SortOrder(vo, Ascending, NullsFirst, _)),
              agg @ Aggregate(Seq(gG: Attribute, vG: Attribute), aggList, child, _), _), _)))
        if rewriteEnabled &&
          medianShape(projList, cond, nAlias, nWin, cumAlias, cumWin,
            g1, g2, vo, gG, vG, aggList) =>
      val out = projList.map(_.toAttribute)
      GroupedMedianExec(gG, vG, out, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Session kill-switch for the declarative-pattern rewrite (default
    * on): `SET spark.graft.medianRewrite.enabled=false` falls back to
    * the built-in window plan — the escape hatch every pattern rewrite
    * should carry, and the lever an A/B measurement flips. */
  private def rewriteEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.medianRewrite.enabled", "true").toBoolean

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** All the side conditions of the declarative-median match (kept out
    * of the pattern guard for readability). */
  private def medianShape(projList: Seq[NamedExpression], cond: Expression,
      nAlias: Alias, nWin: WindowExpression, cumAlias: Alias,
      cumWin: WindowExpression, g1: Expression, g2: Expression,
      vo: Expression, gG: Attribute, vG: Attribute,
      aggList: Seq[NamedExpression]): Boolean = {
    // aggregate emits [g, v, count(1) AS cnt]
    val cntAttr = aggList match {
      case Seq(a1: Attribute, a2: Attribute, al @ Alias(
          AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), _))
          if a1.semanticEquals(gG) && a2.semanticEquals(vG) =>
        al.toAttribute
      case _ => return false
    }
    def isSumOf(w: WindowExpression, over: Attribute): Boolean =
      w.windowFunction match {
        case AggregateExpression(Sum(e, _), _, false, _, _) =>
          e.semanticEquals(over)
        case _ => false
      }
    // cum = sum(cnt) over (partition g, order v, RANGE unbounded..current)
    val cumOk = isSumOf(cumWin, cntAttr) && g1.semanticEquals(gG) &&
      vo.semanticEquals(vG) && (cumWin.windowSpec.frameSpecification match {
        case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => true
        case _ => false
      })
    // n = sum(cnt) over (partition g, whole partition)
    val nOk = isSumOf(nWin, cntAttr) && g2.semanticEquals(gG) &&
      (nWin.windowSpec.frameSpecification match {
        case SpecifiedWindowFrame(f, UnboundedPreceding, UnboundedFollowing) =>
          f == RowFrame || f == RangeFrame
        case _ => false
      })
    if (!cumOk || !nOk) return false
    val cum = cumAlias.toAttribute
    val n = nAlias.toAttribute
    // target rank ⌈n/2⌉ spelled (n + 1) div 2
    def one(l: Expression): Boolean = l match {
      case Literal(v, _) => v != null && v.toString == "1"
      case _ => false
    }
    def two(l: Expression): Boolean = l match {
      case Literal(v, _) => v != null && v.toString == "2"
      case _ => false
    }
    def isTarget(e: Expression): Boolean = e match {
      case IntegralDivide(Add(a: Attribute, l, _), r, _) =>
        a.semanticEquals(n) && one(l) && two(r)
      case _ => false
    }
    // filter: BOTH rank bounds present; anything else must be a null
    // guard on the window outputs (constraint-propagation artifacts)
    val conjuncts = splitConjuncts(cond)
    var lo = false
    var hi = false
    val rest = conjuncts.forall {
      case LessThan(Subtract(c: Attribute, k: Attribute, _), t)
          if c.semanticEquals(cum) && k.semanticEquals(cntAttr) && isTarget(t) =>
        lo = true; true
      case LessThanOrEqual(t, c: Attribute)
          if c.semanticEquals(cum) && isTarget(t) =>
        hi = true; true
      case IsNotNull(a: Attribute) =>
        a.semanticEquals(cum) || a.semanticEquals(n)
      case _ => false
    }
    if (!rest || !lo || !hi) return false
    // projection: exactly [g, v AS <median>, n] in that order (the
    // exec emits (group, value, total) rows positionally)
    projList match {
      case Seq(pg: Attribute, Alias(pv: Attribute, _), pn: Attribute) =>
        pg.semanticEquals(gG) && pv.semanticEquals(vG) && pn.semanticEquals(n)
      case _ => false
    }
  }
}

case class GroupedMedianExec(groupAttr: Attribute, valueAttr: Attribute,
    override val output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  // ask the planner for the scale-safe layout: range partitioning on
  // (group, value) — boundaries split WITHIN groups, so the sort
  // parallelizes over all partitions with no per-group funnel — plus
  // the matching in-partition order
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet -- child.outputSet

  private def order: Seq[SortOrder] =
    Seq(SortOrder(groupAttr, Ascending), SortOrder(valueAttr, Ascending))
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  /** Unsafe buffers are reused per task — anything held across rows
    * (run keys, the emitted median value) must be a defensive copy. */
  private def copied(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case x => x
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val gOrd = child.output.indexWhere(_.exprId == groupAttr.exprId)
    val vOrd = child.output.indexWhere(_.exprId == valueAttr.exprId)
    require(gOrd >= 0 && vOrd >= 0, "group/value column lost from child output")
    val gType = groupAttr.dataType
    val vType = valueAttr.dataType
    // Both passes walk the SAME child RDD — no persist, no per-row
    // copy. The required distribution puts an Exchange directly below,
    // so pass 2's job reuses the shuffle files (its map stage is
    // skipped) and re-pays only the fetch + in-partition sort, which
    // streams; persisting the whole child (the previous spelling:
    // map(_.copy()).persist) allocated a heap copy of EVERY input row
    // and held the full relation in cache between the passes — a
    // per-row constant at gate scale and a memory cliff at 100 TB.
    // Sorted runs make groups contiguous, so both passes compare each
    // row's group against the CURRENT RUN's key (one defensive copy
    // per run, not per row) instead of probing a per-row hash map.
    val rdd = child.execute()
    // pass 1: per-(partition, group) row counts by run-length scan
    val perPart: Array[(Int, Seq[(Any, Long)])] =
      rdd.mapPartitionsWithIndex { (i, it) =>
        val runs = mutable.ArrayBuffer[(Any, Long)]()
        var cur: Any = null
        var open = false
        var cnt = 0L
        it.foreach { r =>
          val g = r.get(gOrd, gType)
          if (open && (if (cur == null) g == null else cur == g)) cnt += 1L
          else {
            if (open) runs += ((cur, cnt))
            cur = copied(g)
            cnt = 1L
            open = true
          }
        }
        if (open) runs += ((cur, cnt))
        Iterator((i, runs.toSeq))
      }.collect()
    val totals = mutable.LinkedHashMap[Any, Long]()
    perPart.sortBy(_._1).foreach { case (_, gs) =>
      gs.foreach { case (g, c) => totals.update(g, totals.getOrElse(g, 0L) + c) }
    }
    // target rank ⌈n/2⌉ per group (q23's ROW_NUMBER spelling) and
    // each partition's per-group prefix offset
    val target: Map[Any, Long] =
      totals.map { case (g, n) => g -> ((n + 1L) / 2L) }.toMap
    val offsets: Map[(Int, Any), Long] = {
      val running = mutable.Map[Any, Long]()
      perPart.sortBy(_._1).flatMap { case (i, gs) =>
        gs.map { case (g, c) =>
          val off = running.getOrElse(g, 0L)
          running.update(g, off + c)
          ((i, g), off)
        }
      }.toMap
    }
    val bOffsets = sparkContext.broadcast(offsets)
    val bTarget = sparkContext.broadcast(target)
    val bTotals = sparkContext.broadcast(totals.toMap)
    // pass 2: each partition walks its sorted runs with its offsets and
    // emits the row whose cumulative range covers the target — at most
    // one row per (partition, group)
    val medians: Array[(Any, Any, Long)] =
      rdd.mapPartitionsWithIndex { (i, it) =>
        val out = mutable.ArrayBuffer[(Any, Any, Long)]()
        var cur: Any = null
        var open = false
        var cum = 0L
        var tgt = 0L
        it.foreach { r =>
          val g = r.get(gOrd, gType)
          if (!open || !(if (cur == null) g == null else cur == g)) {
            cur = copied(g)
            open = true
            cum = bOffsets.value.getOrElse((i, cur), 0L)
            tgt = bTarget.value(cur)
          }
          val before = cum
          cum += 1L
          if (before < tgt && tgt <= cum)
            out += ((cur, copied(r.get(vOrd, vType)), bTotals.value(cur)))
        }
        out.iterator
      }.collect()
    // |groups| result rows, emitted as UnsafeRows on one partition
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    val rows = medians.map { case (g, v, n) =>
      proj(new GenericInternalRow(Array[Any](g, v, n))).copy()
        .asInstanceOf[InternalRow]
    }
    sparkContext.parallelize(rows.toIndexedSeq, 1)
  }
}

object GroupedMedianPlan {

  /** (group, median, n) per group — `ops.GroupedMedian.exactMedian`
    * semantics, executed by the planner through [[GroupedMedianExec]].
    * Planning needs [[GroupedMedianStrategy]], which `GraftExtensions`
    * injects. */
  def exactMedian(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val child = org.apache.spark.sql.graft.PlanBridge.analyzed(df)
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val g = attr(groupCol)
    val v = attr(valueCol)
    val out = Seq(g,
      AttributeReference("median", v.dataType, v.nullable)(),
      AttributeReference("n", LongType, nullable = false)())
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      ExactGroupedMedian(g, v, out, child))
  }
}
