package graft.plans

import graft.SparkSpec
import graft.ops.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RangeJoinRewriteSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  /** The shared session carries the rule (GraftExtensions); its own
    * switch turns it on for the rewritten side and off for the naive
    * reference side, so every comparison is rule vs. planner. */
  private def ruleSwitched[A](on: Boolean)(f: => A): A = {
    spark.conf.set("spark.graft.rangeJoin.enabled", on.toString)
    try f finally spark.conf.unset("spark.graft.rangeJoin.enabled")
  }
  private def withRule[A](f: => A): A = ruleSwitched(on = true)(f)
  private def ruleOff[A](f: => A): A = ruleSwitched(on = false)(f)

  private def rangeJoinDf: DataFrame = {
    val cust = Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey"), col("c_acctbal"))
    val bands = Tables.supplier(spark, sf("sf0.001"))
      .select(col("s_suppkey"),
        (col("s_acctbal") - 50.0).as("lo"), (col("s_acctbal") + 50.0).as("hi"))
    cust.join(bands, col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
      .select("c_custkey", "s_suppkey")
  }

  test("the naive range join is rewritten into a binned equi-join") {
    withRule {
      val df = rangeJoinDf
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("__graft_bin"), opt.take(1500))
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") &&
        !phys.contains("CartesianProduct"),
        "rule did not remove the nested loop:\n" + phys.take(1500))
    }
  }

  test("rewritten results equal the nested-loop results exactly") {
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = ruleOff(canon(rangeJoinDf))
    val rewritten = withRule(canon(rangeJoinDf))
    assert(naive.nonEmpty && rewritten == naive)
  }

  test("bin width only changes the plan constants, never the result") {
    def run(): Seq[(Long, Long)] = withRule {
      rangeJoinDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val at100 = run()
    spark.conf.set("spark.graft.rangeJoin.binWidth", "7.5")
    val at7 = try run()
      finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
    assert(at7 == at100)
  }

  test("joins with a cross-side equi key are left untouched") {
    withRule {
      val orders = Tables.orders(spark, sf("sf0.001"))
        .select(col("o_custkey"), col("o_totalprice"))
      val cust = Tables.customer(spark, sf("sf0.001"))
        .select(col("c_custkey"), col("c_acctbal"))
      // equi key + a range conjunct: hash join already applies
      val df = orders.join(cust,
        col("o_custkey") === col("c_custkey") &&
          col("o_totalprice") >= col("c_acctbal"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
    }
  }

  test("strict bounds and NULLs keep exact semantics") {
    val pts = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None),
      (4L, Some(15.0))).toDF("pid", "v")
    val ivs = Seq((10L, Some(10.0), Some(20.0)), (11L, None, Some(50.0)))
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("v") > col("lo") && col("v") < col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val naive = ruleOff(q())
    val rewritten = withRule {
      val df = pts.join(ivs, col("v") > col("lo") && col("v") < col("hi"))
      assert(df.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
      q()
    }
    // strictly-inside only (boundary points excluded); NULL point and
    // NULL bound rows never match
    assert(naive == Seq((4L, 10L)))
    assert(rewritten == naive)
  }

  test("mixed numeric types (int point, double bounds) rewrite and stay exact") {
    val pts = Seq((1L, 5), (2L, 42), (3L, 100)).toDF("pid", "v")
    val ivs = Seq((10L, 4.5, 42.0), (11L, 99.9, 200.1)).toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val naive = ruleOff(q())
    val rewritten = withRule {
      val df = pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
      assert(df.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
      q()
    }
    assert(naive == Seq((1L, 10L), (2L, 10L), (3L, 11L)))
    assert(rewritten == naive)
  }

  test("an invalid bin width disables the rewrite instead of corrupting results") {
    withRule {
      for (bad <- Seq("0", "-5", "NaN", "banana")) {
        spark.conf.set("spark.graft.rangeJoin.binWidth", bad)
        try {
          val df = rangeJoinDf
          assert(!df.queryExecution.optimizedPlan.toString.contains("__graft_bin"),
            s"width '$bad' must disable the rule")
          assert(df.count() > 0)
        } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
      }
    }
  }

  test("randomized: rewrite equals naive over random points, intervals, widths") {
    val rng = new scala.util.Random(42)
    for (round <- 0 until 3) {
      val pts = (0 until 300).map(i =>
        (i.toLong, rng.nextDouble() * 2000 - 500)).toDF("pid", "v")
      // interval lengths vary 0..110 and ~8% are degenerate (lo > hi)
      val ivs = (0 until 80).map { i =>
        val a = rng.nextDouble() * 2000 - 500
        (i.toLong, a, a + rng.nextDouble() * 120 - 10)
      }.toDF("iid", "lo", "hi")
      def q() = pts.join(ivs,
          col("v") >= col("lo") && col("v") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val naive = ruleOff(q())
      val w = Seq("3.0", "50.0", "400.0")(round)
      spark.conf.set("spark.graft.rangeJoin.binWidth", w)
      val rewritten = try withRule(q())
        finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
      assert(naive.nonEmpty, s"round $round fixture matched nothing")
      assert(rewritten == naive, s"round $round width $w diverged")
    }
  }

  test("disabled flag restores the planner's own strategy") {
    withRule {
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      try assert(!rangeJoinDf.queryExecution.optimizedPlan.toString
        .contains("__graft_bin"))
      finally spark.conf.unset("spark.graft.rangeJoin.enabled")
    }
  }

  test("an unparseable enabled flag disables the rule instead of throwing") {
    withRule {
      spark.conf.set("spark.graft.rangeJoin.enabled", "banana")
      try {
        val df = rangeJoinDf // must not throw during optimization
        assert(!df.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
        assert(df.count() > 0)
      } finally spark.conf.unset("spark.graft.rangeJoin.enabled")
    }
  }

  test("an interval spanning >= maxBinsPerRow bins fails loudly, not with an OOM") {
    val pts = Seq((1L, 10.0)).toDF("pid", "v")
    val ivs = Seq((10L, 0.0, 5.0e9)).toDF("iid", "lo", "hi") // 5e7 bins at W=100
    spark.conf.set("spark.graft.rangeJoin.maxBinsPerRow", "1000")
    val e = try withRule {
      intercept[Exception] {
        pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi")).count()
      }
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerRow")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("graft range-join rewrite")),
      s"expected the guard's actionable message, got: $e")
  }

  test("a non-finite bound hits the guard before sequence materializes") {
    val pts = Seq((1L, 10.0)).toDF("pid", "v")
    val ivs = Seq((10L, Double.NegativeInfinity, 20.0)).toDF("iid", "lo", "hi")
    val e = withRule {
      intercept[Exception] {
        pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi")).count()
      }
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("graft range-join rewrite")),
      s"expected the guard's actionable message, got: $e")
  }

  test("a NaN lower bound matches nothing, with or without the rewrite") {
    // Spark orders NaN above every value, so p >= NaN is false for all p
    val pts = Seq((1L, 10.0)).toDF("pid", "v")
    val ivs = Seq((10L, Double.NaN, 20.0), (11L, 5.0, 15.0))
      .toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val naive = ruleOff(q())
    val rewritten = withRule(q())
    assert(naive == Seq((1L, 11L)) && rewritten == naive)
  }

  test("a NaN upper bound (matches everything >= lo) errors instead of silently dropping") {
    // under NaN-is-largest ordering, hi = NaN behaves like +Infinity in
    // the naive join; binning it would floor NaN to bin 0 and lose
    // matches, so the guard must refuse loudly
    val pts = Seq((1L, 500.0)).toDF("pid", "v")
    val ivs = Seq((10L, 5.0, Double.NaN)).toDF("iid", "lo", "hi")
    val cond = col("v") >= col("lo") && col("v") <= col("hi")
    assert(ruleOff(pts.join(ivs, cond).count()) == 1) // naive: NaN hi matches
    val e = withRule {
      intercept[Exception] { pts.join(ivs, cond).count() }
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("graft range-join rewrite")),
      s"expected the guard's actionable message, got: $e")
  }

  test("a descending (lo > hi) span wider than the cap errors instead of replicating") {
    // Sequence's implicit -1 step would otherwise walk bin-by-bin from
    // lo down to hi — the same unbounded replication, mirrored
    val pts = Seq((1L, 10.0)).toDF("pid", "v")
    val ivs = Seq((10L, 5.0e9, 0.0)).toDF("iid", "lo", "hi")
    spark.conf.set("spark.graft.rangeJoin.maxBinsPerRow", "1000")
    val e = try withRule {
      intercept[Exception] {
        pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi")).count()
      }
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerRow")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("graft range-join rewrite")),
      s"expected the guard's actionable message, got: $e")
  }
}
