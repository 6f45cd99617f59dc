package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GroupedMedianSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  /** Driver-side reference: the ⌈n/2⌉-th value ascending. */
  private def refMedian(vals: Seq[Long]): (Long, Long) = {
    val s = vals.sorted
    (s(((s.length + 1) / 2) - 1), s.length.toLong)
  }

  test("matches a driver-side sort on random data, odd and even counts, ties") {
    val rng = new scala.util.Random(11)
    val rows = (Seq.fill(1001)(("a", rng.nextInt(50).toLong)) ++ // odd n, heavy ties
      Seq.fill(500)(("b", rng.nextLong() % 100000)) ++           // even n
      Seq(("c", 7L)))                                           // singleton group
    val df = rows.toDF("g", "v").repartition(7)
    val got = GroupedMedian.exactMedian(df, "g", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val byG = rows.groupBy(_._1).map { case (g, vs) => g -> refMedian(vs.map(_._2)) }
    assert(got == byG, s"got $got expected $byG")
  }

  test("groups spanning multiple range partitions get correct prefix offsets") {
    // one huge group forces the range partitioner to split WITHIN it —
    // the case the per-group window cannot parallelize and the prefix
    // offsets exist for
    val df = (0L until 20000L).map(i => ("only", i)).toDF("g", "v")
      .repartition(8)
    val r = GroupedMedian.exactMedian(df, "g", "v").collect().head
    assert(r.getLong(1) == 9999L && r.getLong(2) == 20000L) // rank 10000 of 0..19999
  }

  test("empty input yields empty output; no stranded cache blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    assert(GroupedMedian.exactMedian(empty, "g", "v").count() == 0)
    val big = (0L until 1000L).map(i => (s"g${i % 3}", i)).toDF("g", "v")
    GroupedMedian.exactMedian(big, "g", "v").count()
    System.gc()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"stranded: $leaked")
  }

  test("exactQuantiles matches driver-side ⌈q·n⌉ ranks on random data with ties") {
    val rng = new scala.util.Random(13)
    val rows = (Seq.fill(997)(("a", rng.nextInt(40).toLong)) ++ // heavy ties
      Seq.fill(256)(("b", rng.nextLong() % 10000)) ++
      Seq(("c", 42L)))                                          // singleton group
    val qs = Seq(0.1, 0.5, 0.9)
    val df = rows.toDF("g", "v").repartition(5)
    val got = GroupedMedian.exactQuantiles(df, "g", "v", qs).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val expected = rows.groupBy(_._1).flatMap { case (g, vs) =>
      val s = vs.map(_._2).sorted
      qs.map { q =>
        val rank = math.max(1L, math.ceil(q * s.length).toLong)
        (g, q) -> ((s((rank - 1).toInt), s.length.toLong))
      }
    }
    assert(got == expected, s"got $got expected $expected")
  }

  test("exactQuantiles q=0.5 agrees with exactMedian") {
    val df = (0L until 5000L).map(i => (s"g${i % 2}", i * 7 % 1000)).toDF("g", "v")
    val viaQ = GroupedMedian.exactQuantiles(df, "g", "v", Seq(0.5)).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val viaM = GroupedMedian.exactMedian(df, "g", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaQ == viaM)
  }

  test("exactQuantiles ignores NULL values — quantile_disc semantics") {
    // NULLs sort first under the range partitioner: counting them
    // would shift every rank and could emit NULL as a "value"
    val df = Seq(("g", Some(10L)), ("g", None), ("g", None),
      ("g", Some(20L)), ("g", Some(30L)), ("h", Option.empty[Long]))
      .toDF("g", "v")
    val got = GroupedMedian.exactQuantiles(df, "g", "v", Seq(0.5, 1.0))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // n = 3 non-null values; median rank ⌈1.5⌉ = 2 → 20, max → 30
    assert(got == Map(("g", 0.5) -> ((20L, 3L)), ("g", 1.0) -> ((30L, 3L))),
      got.toString)
    // "h" has only NULLs: no rows at all, never a NULL-valued row
    assert(!got.keySet.exists(_._1 == "h"))
  }

  test("q27 equals q23 row-for-row on the test tables") {
    // q23 as Spark's own window plan: the session's median rewrite
    // would otherwise plan it as GroupedMedianExec
    spark.conf.set("spark.graft.medianRewrite.enabled", "false")
    val a = try Relational.q23MedianRank(spark, sf("sf0.001")).collect().toSeq
      finally spark.conf.unset("spark.graft.medianRewrite.enabled")
    val b = Relational.q27MedianPrefix(spark, sf("sf0.001")).collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }
}
