package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("salted aggregation equals the direct groupBy exactly") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val direct = Relational.q2Agg(spark, sf("sf0.001")).collect().toSeq
    val salted = Relational.q15SaltedAgg(spark, sf("sf0.001")).collect().toSeq
    assert(salted.map(_.toSeq) == direct.map(_.toSeq))
    assert(li.count() > 0)
  }

  test("salted aggregation is salt-count invariant") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    def run(salts: Int) = Skew.saltedAgg(li, Seq("l_returnflag"), salts, 42L,
        Skew.CountAll("c"), Skew.SumL("l_orderkey", "s"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(run(1) == run(16))
  }

  test("salted join equals the plain join exactly") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
    val dim = li.groupBy("l_returnflag")
      .agg(max(col("l_orderkey")).as("max_ok"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_returnflag", "l_orderkey", "l_linenumber")
        .collect().map(_.toSeq).toSeq
    val plain = canon(li.join(dim, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("max_ok")))
    val salted = canon(
      Skew.saltedJoin(li, dim, Seq("l_returnflag"), salts = 8, seed = 7L)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("max_ok")))
    assert(salted == plain)
  }

  test("salted join is salt-count invariant") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
    val dim = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("flag_rows"))
    def run(salts: Int) =
      Skew.saltedJoin(li, dim, Seq("l_returnflag"), salts, seed = 42L)
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
        .collect().map(_.toSeq).toSeq
    assert(run(1) == run(16))
  }

  test("AQE splits a skewed sort-merge join at runtime (the dynamic twin of saltedJoin)") {
    import SparkSpec.session.implicits._
    // one hot key owning ~all rows: the adversarial join-skew shape.
    // Thresholds are lowered so the fixture-sized partitions qualify as
    // skewed — the assertion is about the MECHANISM (AQE marks and
    // splits the skewed partition), which is config, not code, at any
    // scale.
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val big = spark.range(0, 20000)
        .select((col("id") % 97).as("pad"),
          when(col("id") % 100 < 99, lit(1L)).otherwise(col("id")).as("k"))
      val dim = spark.range(0, 5000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val joined = big.join(dim, "k")
      // collect() executes THIS queryExecution, finalizing its adaptive
      // plan (count() would execute a separate derived plan)
      val n = joined.collect().length.toLong
      // correctness: hot key 1 matches once per hot row
      assert(n == big.filter(col("k") <= 5000).count())
      val phys = joined.queryExecution.executedPlan.toString
      assert(phys.contains("SortMergeJoin"), phys.take(800))
      assert(phys.contains("skew=true"),
        "AQE did not mark/split the skewed join partition:\n" + phys.take(1500))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftExtensions registers the native functions for plain SQL") {
    // the shared session is the engine session: the SQL below runs the
    // builders GraftExtensions injects, with their arity handling
    val got = spark.sql("SELECT popcount_array(array(CAST(7 AS BIGINT))) AS pc")
      .collect().head.getLong(0)
    assert(got == 3L)
    val sh = spark.sql(
      "SELECT simhash64(array('a','b')), size(minhash_signature(array('a'), 8))")
      .collect().head
    assert(sh.getLong(0) != 0L)
    assert(sh.getInt(1) == 8)
    // a=1 -> bit 0 lands at output bit 1; b=1 -> output bit 0.
    // INT literals, no CASTs: ImplicitCastInputTypes coerces integral
    // arguments to bigint exactly like Spark built-ins
    val z = spark.sql(
      "SELECT zorder2(1, 0), zorder2(0, 1)").collect().head
    assert(z.getLong(0) == 2L && z.getLong(1) == 1L)
    // wrong arity is a descriptive IllegalArgumentException at
    // analysis, not an IndexOutOfBoundsException
    val err = intercept[Exception](spark.sql("SELECT zorder2(1, 2, 3)").collect())
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("zorder2(bigint, bigint)"), msgs)
  }
}
