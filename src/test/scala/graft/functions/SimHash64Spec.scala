package graft.functions

import graft.SparkSpec
import graft.pipeline.TextFunctions
import org.apache.spark.sql.functions._

class SimHash64Spec extends SparkSpec {

  import SparkSpec.session.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox leaps over the lazy dog"),
    (2L, ""),
    (3L, "one"),
    (4L, "naïve café — 日本語 テスト"),
  ).toDF("doc_id", "text")

  test("native SimHash64 equals the built-ins-only spelling") {
    val toks = TextFunctions.tokens(col("text"))
    val viaHof = docs.select(col("doc_id"),
      TextFunctions.simhashFromCounters(
        TextFunctions.simhashCounters(toks)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = docs.select(col("doc_id"),
      SimHash64.simhash64(toks).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative == viaHof)
  }

  test("codegen and interpreted paths agree") {
    val toks = TextFunctions.tokens(col("text"))
    val on = docs.select(SimHash64.simhash64(toks)).collect().map(_.getLong(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = docs.select(SimHash64.simhash64(toks)).collect().map(_.getLong(0))
      assert(on.toSeq == off.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL registration") {
    val r = spark.sql(
      "SELECT simhash64(array('a','b')) = simhash64(array('a','b')) AS eq")
      .collect().head.getBoolean(0)
    assert(r)
  }
}
