package graft.plans

import graft.SparkSpec
import graft.ops.{GroupedMedian, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GroupedMedianPlanSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private def canon(df: DataFrame): Seq[(String, Double, Long)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2)).toSeq

  test("the custom physical operator matches the RDD operator and the window spelling") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_extendedprice"))
    val viaPlanner = canon(GroupedMedianPlan.exactMedian(li, "l_returnflag", "l_extendedprice"))
    val viaOp = canon(GroupedMedian.exactMedian(li, "l_returnflag", "l_extendedprice"))
    assert(viaPlanner.nonEmpty && viaPlanner == viaOp)
  }

  test("random data with ties and multi-partition groups: parity holds") {
    val rng = new scala.util.Random(7)
    val df = (0 until 5000)
      .map(_ => (s"g${rng.nextInt(4)}", (rng.nextInt(40) * 0.5)))
      .toDF("grp", "v").repartition(17)
    val viaPlanner = canon(GroupedMedianPlan.exactMedian(df, "grp", "v"))
    val viaOp = canon(GroupedMedian.exactMedian(df, "grp", "v"))
    assert(viaPlanner == viaOp)
  }

  test("the planner inserts the range exchange and runs GroupedMedianExec") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_extendedprice"))
    val df = GroupedMedianPlan.exactMedian(li, "l_returnflag", "l_extendedprice")
    df.collect()
    // SparkPlan.nodeName strips the Exec suffix: the node prints as
    // "GroupedMedian <attrs>"
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GroupedMedian "), p.take(1200))
    assert(p.contains("rangepartitioning"),
      "missing the OrderedDistribution-induced range exchange:\n" + p.take(1200))
  }

  test("a single-row group and an empty input behave") {
    val df = Seq(("solo", 3.5), ("pair", 1.0), ("pair", 2.0)).toDF("grp", "v")
    val got = canon(GroupedMedianPlan.exactMedian(df, "grp", "v"))
    assert(got == Seq(("pair", 1.0, 2L), ("solo", 3.5, 1L)))
    val empty = GroupedMedianPlan.exactMedian(
      df.filter(lit(false)), "grp", "v")
    assert(empty.count() == 0)
  }

  // ---- the declarative-pattern rewrite (round-21 strategy case) ----

  /** q23's exact spelling, parameterized over input. */
  private def declarativeMedian(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("v")
    val c = Window.partitionBy("grp")
    df.groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(c))
      .filter(expr("cum - cnt < (n + 1) div 2 AND (n + 1) div 2 <= cum"))
      .select(col("grp"), col("v").as("median"), col("n"))
  }

  test("the declarative rank spelling plans as GroupedMedianExec with one exchange") {
    val rng = new scala.util.Random(11)
    val df = (0 until 4000)
      .map(_ => (s"g${rng.nextInt(3)}", rng.nextInt(500) * 0.25))
      .toDF("grp", "v").repartition(13)
    val decl = declarativeMedian(df)
    decl.collect()
    val p = decl.queryExecution.executedPlan.toString
    assert(p.contains("GroupedMedian "),
      "declarative median did not plan as the custom operator:\n" + p.take(1500))
    assert(!p.contains("Window"), "rewrite left a Window behind:\n" + p.take(1500))
    // value parity with the RDD operator (ties + multi-partition input)
    val got = canon(decl)
    val want = canon(GroupedMedian.exactMedian(df, "grp", "v"))
    assert(got == want)
    // and with the rewrite switched off, Spark's own window plan agrees
    spark.conf.set("spark.graft.medianRewrite.enabled", "false")
    val viaWindows = try {
      val plain = declarativeMedian(df)
      plain.collect()
      val pp = plain.queryExecution.executedPlan.toString
      assert(pp.contains("Window") && !pp.contains("GroupedMedian "), pp.take(1500))
      canon(plain)
    } finally spark.conf.unset("spark.graft.medianRewrite.enabled")
    assert(got == viaWindows)
  }

  test("near-miss shapes fall through to the built-in planner") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("grp", "v")
    val w = Window.partitionBy("grp").orderBy("v")
    val c = Window.partitionBy("grp")
    // a different rank target ((n+2) div 2) must NOT rewrite
    val other = df.groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(c))
      .filter(expr("cum - cnt < (n + 2) div 2 AND (n + 2) div 2 <= cum"))
      .select(col("grp"), col("v").as("median"), col("n"))
    other.collect()
    assert(!other.queryExecution.executedPlan.toString.contains("GroupedMedian "))
    // an extra surviving filter conjunct must NOT rewrite (dropping it
    // would change results)
    val extra = df.groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(c))
      .filter(expr("cum - cnt < (n + 1) div 2 AND (n + 1) div 2 <= cum AND n > 1"))
      .select(col("grp"), col("v").as("median"), col("n"))
    extra.collect()
    assert(!extra.queryExecution.executedPlan.toString.contains("GroupedMedian "))
    assert(canon(extra) == Seq(("a", 1.0, 2L)))
  }
}
