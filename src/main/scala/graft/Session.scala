package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main or test builds its SparkSession.
  *
  * Every session runs the engine as it ships: both extension sets
  * (`GraftExtensions`: the native SQL functions, the range-join,
  * file-skipping and metadata-count rules and the grouped-median
  * strategy; `GraftSqlExtensions`: the maintenance-statement parser
  * and table functions), UTC session time, parquet NANOS timestamps
  * read as longs, v2 bucketing for storage-partitioned joins, parquet
  * aggregate pushdown, AQE with partition coalescing, no UI, and one
  * shuffle partition per CPU.
  *
  * A caller changes a setting only on purpose, and each such change
  * is named here:
  *  - `graft.Verify` defaults to 4 CPUs, not 32 (`cpus(4)`): it times
  *    nothing, and the results it dumps must not depend on the count;
  *  - `graft.GaCli` sets `spark.sql.shuffle.partitions` to
  *    max(partitions, 4): the reference's map/reduce task count is a
  *    CLI argument.
  *
  * When a live session already exists in this JVM (a main called from
  * a test or a notebook), it is returned untouched: `getOrCreate`
  * would copy these settings into the caller's runtime conf.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def local(cpus: Int, overrides: (String, String)*): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse {
        val builder = SparkSession.builder().master(s"local[$cpus]").appName("graft")
          .withExtensions(new GraftExtensions)
        val settings = Seq(
          "spark.sql.shuffle.partitions" -> cpus.toString,
          "spark.sql.session.timeZone" -> "UTC",
          "spark.sql.legacy.parquet.nanosAsLong" -> "true",
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.parquet.aggregatePushdown" -> "true",
          "spark.sql.extensions" -> "graft.sources.GraftSqlExtensions",
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
          "spark.ui.enabled" -> "false")
        (settings ++ overrides).foreach { case (k, v) => builder.config(k, v) }
        val spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        spark
      }
}
