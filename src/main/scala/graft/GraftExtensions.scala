package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{CmsEstimateCount, CosineSim, DotProduct, MinHashSignature, PopCountArray, SimHash64, ZOrderInterleave}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions entry point: makes the engine's native
  * functions available to ANY session via
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`), the standard way a
  * Spark-native library ships custom Catalyst expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // planner extension: pure range-condition joins become binned
    // equi-joins (plans.RangeJoinRewrite) instead of nested loops
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite())
    // metadata-only COUNT(*): an unfiltered global count over a
    // graft-versioned scan answers from the manifest row counts
    // (plans.VersionedCountRule)
    e.injectOptimizerRule(_ => graft.plans.VersionedCountRule())
    // physical-operator extension: plans.ExactGroupedMedian logical
    // nodes execute as GroupedMedianExec (range-partitioned two-pass
    // prefix sums)
    e.injectPlannerStrategy(_ => graft.plans.GroupedMedianStrategy)
    GraftExtensions.sqlFunctions.foreach { case (name, className, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder))
    }
  }
}

object GraftExtensions {

  private def wrongArity(sig: String, got: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$sig called with ${got.length} argument(s)")

  /** The SQL-registered function surface: (name, class, builder).
    * Every builder pattern-matches its arity so a wrong argument count
    * surfaces as a descriptive IllegalArgumentException at analysis,
    * never an IndexOutOfBoundsException from positional indexing. */
  private[graft] val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("popcount_array", classOf[PopCountArray].getName, {
      case Seq(arr) => PopCountArray(arr)
      case e => wrongArity("popcount_array(array<bigint>)", e)
    }),
    ("simhash64", classOf[SimHash64].getName, {
      case Seq(toks) => SimHash64(toks)
      case e => wrongArity("simhash64(array<string>)", e)
    }),
    ("dot_product", classOf[DotProduct].getName, {
      case Seq(a, b) => DotProduct(a, b)
      case e => wrongArity("dot_product(array<float>, array<float>)", e)
    }),
    ("cosine_sim", classOf[CosineSim].getName, {
      case Seq(a, b) => CosineSim(a, b)
      case e => wrongArity("cosine_sim(array<float>, array<float>)", e)
    }),
    ("minhash_signature", classOf[MinHashSignature].getName, {
      case Seq(arr, Literal(k: Int, IntegerType)) => MinHashSignature(arr, k)
      case _ => throw new IllegalArgumentException(
        "minhash_signature(array<string>, k) requires a literal int k")
    }),
    ("zorder2", classOf[ZOrderInterleave].getName, {
      case Seq(a, b) => ZOrderInterleave(a, b)
      case e => wrongArity("zorder2(bigint, bigint)", e)
    }),
    ("cms_estimate_count", classOf[CmsEstimateCount].getName, {
      case Seq(sketch, key) => CmsEstimateCount(sketch, key)
      case e => wrongArity("cms_estimate_count(binary, bigint)", e)
    }))
}
