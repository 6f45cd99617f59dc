package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SetOpsSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  // random word-salad pairs plus the edge shapes: identical, disjoint,
  // one-empty, both-empty, subset, and shared-null-element sets. The
  // precondition (sorted ascending, distinct) is established the way
  // every call site establishes it: array_sort(array_distinct(...)).
  private lazy val rawPairs = {
    val rng = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "", "x", "yy", "zzz", "Ω", "ünïcode")
    def randSet() = Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))
    val rand = Seq.fill(50)((randSet(), randSet()))
    val edges = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq.empty[String], Seq("a")),
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b", "c", "d"), Seq("b", "d")))
    (rand ++ edges).toDF("a", "b")
      .select(array_sort(array_distinct(col("a"))).as("a"),
        array_sort(array_distinct(col("b"))).as("b"))
  }

  test("sortedIntersectSize equals size(array_intersect) on sorted distinct arrays") {
    val rows = rawPairs.select(
      SetOps.sortedIntersectSize(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    assert(rows.exists(_.getInt(0) > 0), "fixture must contain overlapping pairs")
    assert(rows.exists(_.getInt(0) == 0), "fixture must contain disjoint pairs")
  }

  test("null elements and null arrays match array_intersect semantics") {
    val df = Seq(
      (Some(Seq(Some("a"), None, Some("b"))), Some(Seq(Some("b"), None))),
      (Some(Seq(Some("a"), None)), Some(Seq(Some("b"), Some("c")))),
      (None, Some(Seq(Some("a")))),
      (Some(Seq(Some("a"))), None)
    ).toDF("a", "b")
      .select(array_sort(col("a")).as("a"), array_sort(col("b")).as("b"))
    val rows = df.select(
      SetOps.sortedIntersectSize(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), r.toString)
    }
    assert(rows(0).getInt(0) == 2, "shared null + shared 'b' count as 2")
    assert(rows(2).isNullAt(0) && rows(3).isNullAt(0), "null array -> NULL")
  }

  test("codegen and interpreted paths agree") {
    def collectAll() = rawPairs
      .select(SetOps.sortedIntersectSize(col("a"), col("b"))).collect()
      .map(_.getInt(0)).toSeq
    val on = collectAll()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(on == collectAll())
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("jaccardSorted is bit-identical to the legacy jaccard spelling") {
    import graft.pipeline.{JaccardReference, TextFunctions}
    val rng = new scala.util.Random(13)
    val words = Vector("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "lorem", "ipsum", "dolor", "sit", "amet")
    val texts = Seq.fill(60)(
      Seq.fill(1 + rng.nextInt(30))(words(rng.nextInt(words.size)))
        .mkString(" ")) ++ Seq("", "   ", "one")
    val pairs = (for (a <- texts.take(20); b <- texts.take(20)) yield (a, b))
      .toDF("ta", "tb")
      .select(TextFunctions.tokenSet(col("ta")).as("ua"),
        TextFunctions.tokenSet(col("tb")).as("ub"),
        TextFunctions.tokenSetSorted(col("ta")).as("sa"),
        TextFunctions.tokenSetSorted(col("tb")).as("sb"))
    val rows = pairs.select(
      JaccardReference.jaccard(col("ua"), col("ub")).as("legacy"),
      TextFunctions.jaccardSorted(col("sa"), col("sb")).as("sorted")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
  }
}
