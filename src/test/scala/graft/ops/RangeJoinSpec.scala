package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  /** The theta join as Spark plans it, as sorted (pid, iid) pairs: the
    * shared session's RangeJoinRewrite is switched off, so the
    * reference is not itself a binned join. */
  private def naive(points: org.apache.spark.sql.DataFrame,
      intervals: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    spark.conf.set("spark.graft.rangeJoin.enabled", "false")
    try points.join(intervals, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    finally spark.conf.unset("spark.graft.rangeJoin.enabled")
  }

  test("binned range join equals the naive theta join on real tables") {
    val cust = Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey").as("pid"), col("c_acctbal").as("v"))
    val bands = Tables.supplier(spark, sf("sf0.001"))
      .select(col("s_suppkey").as("iid"),
        (col("s_acctbal") - 50.0).as("lo"), (col("s_acctbal") + 50.0).as("hi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
    val binned = canon(RangeJoin.binnedRangeJoin(cust, bands,
      "v", "lo", "hi", binWidth = 100.0))
    val plain = naive(cust, bands)
    assert(binned.nonEmpty, "fixture produced no in-band pairs")
    assert(binned == plain)
  }

  test("result is bin-width invariant (width trades replicas vs candidates)") {
    val pts = Seq((1L, 3.0), (2L, 99.9), (3L, 100.0), (4L, -7.5), (5L, 250.0))
      .toDF("pid", "v")
    val ivs = Seq((10L, 0.0, 100.0), (11L, 99.9, 99.9), (12L, -50.0, -1.0),
      (13L, 240.0, 260.0)).toDF("iid", "lo", "hi")
    def run(w: Double) = RangeJoin.binnedRangeJoin(pts, ivs, "v", "lo", "hi", w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val expected = naive(pts, ivs)
    for (w <- Seq(0.5, 7.0, 100.0, 10000.0))
      assert(run(w) == expected, s"width $w diverged")
  }

  test("boundary points are inclusive on both ends; negative bins correct") {
    val pts = Seq((1L, -100.0), (2L, -0.0), (3L, 50.0)).toDF("pid", "v")
    val ivs = Seq((10L, -100.0, 0.0), (11L, 0.0, 50.0)).toDF("iid", "lo", "hi")
    val r = RangeJoin.binnedRangeJoin(pts, ivs, "v", "lo", "hi", 30.0)
      .select("pid", "iid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)))
  }

  test("degenerate intervals: lo > hi matches nothing instead of fabricating bins") {
    val pts = Seq((1L, 5.0)).toDF("pid", "v")
    val ivs = Seq((10L, 9.0, 1.0)).toDF("iid", "lo", "hi")
    assert(RangeJoin.binnedRangeJoin(pts, ivs, "v", "lo", "hi", 2.0).count() == 0)
  }

  test("shared column names fail fast at the precondition, not as a late ambiguity") {
    val pts = Seq((1L, 5.0)).toDF("id", "v")
    val ivs = Seq((10L, 1.0, 9.0)).toDF("id", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.binnedRangeJoin(pts, ivs, "v", "lo", "hi", 2.0)
    }
    assert(e.getMessage.contains("id"))
  }
}
