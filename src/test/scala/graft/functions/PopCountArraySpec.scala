package graft.functions

import graft.SparkSpec
import graft.core.Genome
import org.apache.spark.sql.functions._

class PopCountArraySpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private lazy val df = Seq(
    Tuple1(Array(0L)),
    Tuple1(Array(-1L)),            // 64 bits
    Tuple1(Array(255L, 15L, 1L)),  // 8 + 4 + 1
    Tuple1(Array.empty[Long]),
  ).toDF("g")

  test("matches Long.bitCount sums (codegen path)") {
    val got = df.select(PopCountArray.popcountArray(col("g"))).collect()
      .map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 64L, 13L, 0L))
  }

  test("interpreted path matches codegen path") {
    val interp = df.select(PopCountArray.popcountArray(col("g")))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(interp.collect().map(_.getLong(0)).toSeq == Seq(0L, 64L, 13L, 0L))
    }
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val old = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("agrees with the built-ins-only spelling on random genomes") {
    val rng = new java.util.Random(7)
    val pop = Seq.fill(200)(Tuple1(Genome.random(300, rng))).toDF("g")
    val a = pop.select(PopCountArray.popcountArray(col("g"))).collect().map(_.getLong(0))
    // bit_count inside transform + aggregate
    val builtin = aggregate(transform(col("g"), w => bit_count(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val b = pop.select(builtin).collect().map(_.getLong(0))
    assert(a.toSeq == b.toSeq)
  }

  test("stays inside WholeStageCodegen (no fallback in the hot path)") {
    // (a Seq-backed frame constant-folds to LocalTableScan — itself
    // proof the interpreted path runs — so assert on a range scan)
    val ranged = spark.range(1000)
      .select(PopCountArray.popcountArray(array(col("id"))).as("pc"))
    val plan = ranged.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the plan's simpleString
    assert(plan.contains("*(1) Project [popcount_array"),
      s"no codegen span around the expression:\n$plan")
    assert(ranged.agg(sum("pc")).head().getLong(0) ==
      (0L until 1000L).map(java.lang.Long.bitCount(_).toLong).sum)
  }

  test("SQL registration") {
    df.createOrReplaceTempView("pc_test")
    val got = spark.sql("SELECT popcount_array(g) AS pc FROM pc_test")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 64L, 13L, 0L))
  }

  test("null array yields null; type mismatch is rejected") {
    val withNull = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS g")
    assert(withNull.select(PopCountArray.popcountArray(col("g")))
      .collect().head.isNullAt(0))
    val bad = Seq(Tuple1("nope")).toDF("g")
    intercept[Exception] {
      bad.select(PopCountArray.popcountArray(col("g"))).collect()
    }
  }
}
