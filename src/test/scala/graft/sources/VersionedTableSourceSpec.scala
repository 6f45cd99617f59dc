package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedTableSourceSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtable_dsv2").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private def snapshot(rows: (Long, String)*) = rows.toDF("id", "body")

  test("format read resolves the latest snapshot via the short name") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    VersionedTable.commit(spark, root, snapshot(1L -> "a2", 2L -> "b"), 0)
    val got = spark.read.format("graft-versioned").load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "a2", 2L -> "b"))
  }

  test("versionAsOf time-travels; connector and programmatic reads agree") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b", 3L -> "c"))
    val cs = Seq((2L, "b2", "U"), (3L, "", "D")).toDF("id", "body", "op")
    VersionedTable.merge(spark, root, cs, "id")
    val v0 = spark.read.format("graft-versioned")
      .option("versionAsOf", 0).load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(v0 == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val v1 = spark.read.format("graft-versioned")
      .option("versionAsOf", 1).load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(v1 == VersionedTable.read(spark, root, Some(1))
      .orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("the scan is Spark's own parquet scan: filters push down, columns prune") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      (1L to 100L).map(i => (i, s"body$i")).toDF("id", "body"))
    val q = spark.read.format("graft-versioned").load(root)
      .filter(col("id") > 90L).select("id")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"filter not pushed to the parquet scan:\n$physical")
    assert(physical.contains("ReadSchema: struct<id:bigint>"),
      s"body column not pruned from the scan:\n$physical")
    assert(q.as[Long].collect().sorted.toSeq == (91L to 100L))
  }

  test("inferSchema equals read(..).schema on evolved and unevolved " +
    "versions") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    VersionedTable.append(spark, root,
      Seq((2L, "b", Some(7L))).toDF("id", "body", "extra"),
      expectedVersion = 0, evolveSchema = true)
    assert(VersionedTable.manifestSchema(spark, root, 0).isEmpty)
    assert(VersionedTable.manifestSchema(spark, root, 1).isDefined)
    for (v <- Seq(0, 1)) {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root, "versionAsOf", v.toString))
      assert(new VersionedTableSource().inferSchema(opts) ==
        VersionedTable.read(spark, root, Some(v)).schema, s"version $v")
    }
  }

  test("a connector frame pinned before a merge still reads the old snapshot") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    val pinned = spark.read.format("graft-versioned").load(root)
    val cs = Seq((1L, "a2", "U"), (2L, "", "D")).toDF("id", "body", "op")
    VersionedTable.merge(spark, root, cs, "id")
    assert(pinned.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    assert(spark.read.format("graft-versioned").load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a2"))
  }

  test("connector reads survive compact + vacuum maintenance") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0)
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(spark, root, keepVersions = 1, retainMillis = 0L)
    assert(spark.read.format("graft-versioned").load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    // vacuumed versions fail loudly through the connector too
    intercept[IllegalArgumentException](
      spark.read.format("graft-versioned").option("versionAsOf", 0)
        .load(root).collect())
  }

  test("SQL DDL reaches the connector: CREATE TABLE ... USING graft-versioned") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    spark.sql("DROP TABLE IF EXISTS vddl")
    spark.sql(
      s"CREATE TABLE vddl USING `graft-versioned` OPTIONS (path '$root')")
    try {
      val got = spark.sql("SELECT id, body FROM vddl ORDER BY id")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq(1L -> "a", 2L -> "b"))
      // SQL predicates flow into the same pushed-down parquet scan
      assert(spark.sql("SELECT count(*) FROM vddl WHERE id = 2").head.getLong(0) == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS vddl")
  }

  test("missing path and uninitialized table fail loudly") {
    intercept[IllegalArgumentException](
      spark.read.format("graft-versioned").load())
    intercept[IllegalArgumentException](
      spark.read.format("graft-versioned").load(freshRoot()))
  }

  test("readChangeFeed serves the change feed through the connector: " +
      "Delta's option spelling, per-version rows, keyed mode included") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    VersionedTable.append(spark, root, snapshot(3L -> "c"),
      expectedVersion = 0)
    VersionedTable.merge(spark, root,
      Seq((2L, "b2", "U")).toDF("id", "body", "op"), "id")
    val got = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(root)
      .select("id", "body", "change_kind", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    val expected = VersionedTable.changeFeed(spark, root, 1)
      .select("id", "body", "change_kind", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == expected, s"connector feed != programmatic: $got")
    assert(got == Set((3L, "c", "insert", 1L),
      (2L, "b", "delete", 2L), (2L, "b2", "insert", 2L)))
    // endingVersion bounds the range; key switches the vocabulary
    val keyed = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2")
      .option("key", "id")
      .load(root)
      .select("id", "body", "change_kind", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(keyed == Set((2L, "b", "update_preimage", 2L),
      (2L, "b2", "update_postimage", 2L)), s"keyed connector feed: $keyed")
    // startingVersion is required, like Delta
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned")
        .option("readChangeFeed", "true").load(root).collect()
    }
    assert(e.getMessage.contains("startingVersion"))
  }

  test("path reads report the pinned version's statistics — parity " +
    "with the catalog surface — and skipping/count rules still fire " +
    "through the stats wrapper") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      spark.range(4000).select($"id", concat(lit("b"), $"id").as("body")))
    VersionedTable.append(spark, root,
      spark.range(4000, 5000)
        .select($"id", concat(lit("b"), $"id").as("body")), 0)
    val latest = spark.read.format("graft-versioned").load(root)
    assert(latest.queryExecution.optimizedPlan.stats.rowCount
      .contains(BigInt(5000)), "manifest-exact row count on the path")
    val pinned = spark.read.format("graft-versioned")
      .option("versionAsOf", 0).load(root)
    assert(pinned.queryExecution.optimizedPlan.stats.rowCount
      .contains(BigInt(4000)), "time travel pins the stats too")
    // envelopes flow under CBO
    val cbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val idStat = latest.queryExecution.optimizedPlan.stats
        .attributeStats.find(_._1.name == "id").map(_._2)
      assert(idStat.exists(s =>
        s.min.contains(0L) && s.max.contains(4999L)), s"got $idStat")
    } finally spark.conf.set("spark.sql.cbo.enabled", cbo)
    // count(*) still answers from METADATA through the wrapper — the
    // manifest fold when the count rule wins the batch, parquet
    // footers when Spark's aggregate pushdown got there first; both
    // are scan-free, and the RULE's own fold is pinned by applying it
    // directly (DataSkippingSpec does the same)
    val cnt = latest.groupBy().count()
    val folded = org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.VersionedCountRule()(cnt.queryExecution.analyzed))
    assert(folded.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical
        .LocalRelation => l
    }.isDefined, "count rule must see through the stats wrapper:\n" +
      folded.queryExecution.optimizedPlan)
    assert(cnt.as[Long].head == 5000L)
    assert(folded.as[Long].head == 5000L)
    // the skip rule's pruning through the wrapper is pinned by
    // DataSkippingSpec (file-list assert); here just the answer
    val filtered = spark.read.format("graft-versioned").load(root)
      .filter($"id" >= 4500L)
    assert(filtered.count() == 500L)
  }
}
