package graft

import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the empirical scaling curve
  * (BASELINE.md §scaling): replicates the driver's sf0.1 tables ×N
  * into a local dir so ScaleBench can measure sec-vs-sf exponents at
  * one decade above the largest driver-provided SF.
  *
  * Replication discipline — the point is to grow the DATA without
  * changing its STRUCTURE per unit:
  *  - `documents`: doc_id' = doc_id·N + rep keeps ids unique; every
  *    replica's tokens are prefixed with a rep tag (`r3_the`), so
  *    replica universes share ZERO tokens — the corpus is N disjoint
  *    copies of the original's near-dup structure. Without the prefix
  *    every doc would near-dup its own N replicas and pair output
  *    would grow quadratically in N by construction, measuring the
  *    fixture instead of the operator.
  *  - `embeddings`: vec_id remapped the same way; vectors kept
  *    verbatim (ANN timing is row-count-driven; exact-dup vectors
  *    across replicas don't distort bucket geometry for the fixed
  *    10-query probe set).
  *  - `lineitem`: l_orderkey' = l_orderkey·N + rep keeps
  *    (orderkey, linenumber) unique; measures/flags verbatim so group
  *    cardinalities and value distributions are SF-invariant.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = Session.local(Session.cpus())

    val reps = spark.range(factor).toDF("rep")

    ops.Tables.documents(spark, srcDir).crossJoin(reps)
      .select(
        (col("doc_id") * factor + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("rep").cast("string"), lit("_$1"))))
          .as("text"),
        col("lang"), col("source"))
      // replicas' text gains rN_ prefixes, so n_chars is recomputed
      // from the REWRITTEN text — keeping the n_chars==length(text)
      // invariant any length-based op (domain cap, keep-best) relies
      // on. This must happen in a second projection: inside the select
      // above, `col("text")` still resolves against the INPUT relation
      // (the original text), not the alias being built
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    ops.Tables.embeddings(spark, srcDir).crossJoin(reps)
      .select((col("vec_id") * factor + col("rep")).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    ops.Tables.lineitem(spark, srcDir).crossJoin(reps)
      .select(
        (col("l_orderkey") * factor + col("rep")).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // orders with the SAME orderkey remap as lineitem, so the fact-dim
    // join structure (each lineitem's order exists exactly once) is
    // SF-invariant — required by the bloom_semi scaling row
    ops.Tables.orders(spark, srcDir).crossJoin(reps)
      .select(
        (col("o_orderkey") * factor + col("rep")).as("o_orderkey"),
        (col("o_custkey") * factor + col("rep")).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // events for the stateful-streaming scaling rows: user_id remapped
    // per replica so per-user event counts (and thus milestone/session
    // structure) are SF-invariant — N disjoint copies of the original
    // user population; ts kept verbatim (raw nanos long under
    // nanosAsLong — written back as-is, re-derived by Tables.events)
    spark.read.parquet(s"$srcDir/events.parquet").crossJoin(reps)
      .select(
        (col("event_id") * factor + col("rep")).as("event_id"),
        col("ts"),
        (col("user_id") * factor + col("rep")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // customer/supplier for the range-join scaling rows: keys remapped,
    // acctbal jittered per rep (deterministic) so replica bands don't
    // stack on identical values
    ops.Tables.customer(spark, srcDir).crossJoin(reps)
      .select((col("c_custkey") * factor + col("rep")).as("c_custkey"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + col("rep") * 0.25).as("c_acctbal"),
        col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    ops.Tables.supplier(spark, srcDir).crossJoin(reps)
      .select((col("s_suppkey") * factor + col("rep")).as("s_suppkey"),
        col("s_name"), col("s_nationkey"),
        (col("s_acctbal") + col("rep") * 0.25).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    println(s"""{"generated":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
