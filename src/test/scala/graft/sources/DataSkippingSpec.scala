package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Manifest-stats file skipping: collection at commit time, the
  * conservative may-match evaluator, readWhere equivalence, and the
  * pruned DSv2 scans of the path connector and the catalog. */
class DataSkippingSpec extends SparkSpec {

  import DataSkippingSpec.scannedFiles

  import SparkSpec.session.implicits._

  private def withTable(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_skip")
    try f(tmp.resolve("tbl").toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Three single-file appends with disjoint id ranges + lang values. */
  private def threeBatches(root: String): Unit = {
    def batch(lo: Int, hi: Int, lang: String): DataFrame =
      (lo until hi).map(i => (i.toLong, lang, s"text-$i",
        if (i % 10 == 0) None else Some(i * 1.5))).toDF(
        "id", "lang", "body", "score").coalesce(1)
    VersionedTable.init(spark, root, batch(0, 100, "en"))
    VersionedTable.append(spark, root, batch(100, 200, "fr"), 0)
    VersionedTable.append(spark, root, batch(200, 300, "de"), 1)
  }

  private def resolvedPred(df: DataFrame, cond: Column): Expression =
    df.filter(cond).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.get

  private def pruneCount(root: String, cond: Column): (Int, Int) = {
    val pred = resolvedPred(VersionedTable.read(spark, root), cond)
    val (_, pruned, covered) = VersionedTable.prunedPaths(spark, root, pred)
    (pruned, covered)
  }

  test("commit harvests per-file envelopes from the parquet footers") {
    withTable { root =>
      threeBatches(root)
      val byDir = VersionedTable.statsByDir(spark, root)
      assert(byDir.size == 3, "one covered dir per commit")
      val all = byDir.values.flatten.toSeq
      assert(all.size == 3 && all.forall(_.rows == 100))
      val ids = all.flatMap(_.col("id")).sortBy(_.min.get.asInstanceOf[Long])
      assert(ids.map(c => (c.min.get, c.max.get)) ==
        Seq((0L, 99L), (100L, 199L), (200L, 299L)))
      // string + nullable double envelopes ride along
      assert(all.flatMap(_.col("lang")).map(_.min.get).toSet ==
        Set("en", "fr", "de"))
      assert(all.flatMap(_.col("score")).forall(_.nullCount.contains(10L)))
    }
  }

  test("appends carry prior stats lines forward verbatim") {
    withTable { root =>
      threeBatches(root)
      val v1 = VersionedTable.statsByDir(spark, root, Some(1))
      val v2 = VersionedTable.statsByDir(spark, root, Some(2))
      assert(v1.keySet.subsetOf(v2.keySet))
      v1.foreach { case (dir, st) => assert(v2(dir) == st) }
    }
  }

  test("range/equality/IN/null predicates prune provably-dead files") {
    withTable { root =>
      threeBatches(root)
      assert(pruneCount(root, $"id".between(120, 180)) == (2, 3))
      assert(pruneCount(root, $"id" === 250L) == (2, 3))
      assert(pruneCount(root, $"id" < 0L) == (3, 3))
      assert(pruneCount(root, $"lang" === "fr") == (2, 3))
      assert(pruneCount(root, $"lang".isin("en", "de")) == (1, 3))
      assert(pruneCount(root, $"id" > 150L && $"lang" === "en") == (3, 3))
      assert(pruneCount(root, $"id" < 50L || $"id" >= 250L) == (1, 3))
      // every file has some nulls and some non-nulls in score
      assert(pruneCount(root, $"score".isNull) == (0, 3))
      assert(pruneCount(root, $"score".isNotNull) == (0, 3))
      // [100,199]'s whole envelope ("text-100".."text-199") sorts
      // BELOW "text-25", so the prefix range can't reach it; the
      // other two straddle the prefix and must stay
      assert(pruneCount(root, $"body".startsWith("text-25")) == (1, 3))
      // unsupported shapes never prune
      assert(pruneCount(root, length($"body") > 3) == (0, 3))
      assert(pruneCount(root, $"id" % 2 === 0) == (0, 3))
    }
  }

  test("readWhere equals read().filter() across predicate shapes") {
    withTable { root =>
      threeBatches(root)
      val conds = Seq[Column](
        $"id".between(120, 180), $"id" === 250L, $"id" < 0L,
        $"lang" === "fr" && $"score".isNotNull,
        $"id" < 50L || $"id" >= 250L,
        length($"body") > 6)
      for (c <- conds) {
        val full = VersionedTable.read(spark, root).filter(c)
          .collect().map(_.toSeq).toSet
        val skipped = VersionedTable.readWhere(spark, root, c)
          .collect().map(_.toSeq).toSet
        assert(skipped == full, s"readWhere diverged for $c")
      }
    }
  }

  test("the scan builder prunes the DSv2 scan's file list") {
    withTable { root =>
      threeBatches(root)
      val cond = $"id".between(120, 180)
      val df = connector(root).filter(cond)
      assert(scannedFiles(df).size == 1,
        s"expected 1 surviving file: ${scannedFiles(df)}")
      // the pruned scan answers exactly like the unpruned read
      assert(rowSet(df) == rowSet(VersionedTable.read(spark, root)
        .filter(cond)))
      // no filter, no pruning
      assert(scannedFiles(connector(root)).size == 3)
    }
  }

  test("all files pruned: empty scan, correct (empty) answer") {
    withTable { root =>
      threeBatches(root)
      assert(VersionedTable.readWhere(spark, root, $"id" > 9999L)
        .count() == 0)
      val df = connector(root).filter($"id" > 9999L)
      assert(scannedFiles(df).isEmpty)
      assert(df.collect().isEmpty)
    }
  }

  test("a pinned connector read classifies with its own version's " +
    "stats, not the latest manifest's") {
    withTable { root =>
      twoFilesThenDelete(root)
      val v0 = connector(root, Some(0)).filter($"id" >= 120L)
      assert(v0.count() == 80L)
      assert(rowSet(v0) == rowSet(VersionedTable.read(spark, root, Some(0))
        .filter($"id" >= 120L)))
      assert(VersionedTable.readWhere(spark, root, $"id" >= 120L,
        Some(0)).count() == 80L)
      withCatalog(root) { t =>
        assert(spark.sql(s"SELECT id FROM $t VERSION AS OF 0 " +
          "WHERE id >= 120").count() == 80L)
      }
    }
  }

  test("a file-reference manifest entry prunes in a connector read") {
    withTable { root =>
      twoFilesThenDelete(root)
      // latest manifest: the carried file as a `dir/file.parquet`
      // reference, plus the delete's rewrite of the other file
      val refs = VersionedTable.readManifest(spark, root,
        VersionedTable.latestVersion(spark, root))
      assert(refs.count(VersionedTable.refIsFile) == 1 && refs.size == 2,
        s"expected one carried file reference: $refs")
      val df = connector(root).filter($"id" >= 120L)
      assert(scannedFiles(df).size == 1,
        s"the carried low-range file must prune: ${scannedFiles(df)}")
      assert(df.count() == 79L)
    }
  }

  test("a catalog SELECT ... WHERE plans only the may-match files") {
    withTable { root =>
      threeBatches(root)
      withCatalog(root) { t =>
        val cond = "id BETWEEN 120 AND 180"
        val df = spark.sql(s"SELECT * FROM $t WHERE $cond")
        assert(scannedFiles(df).size == 1,
          s"expected 1 surviving file: ${scannedFiles(df)}")
        assert(rowSet(df) == rowSet(VersionedTable.read(spark, root)
          .filter(cond)))
        assert(scannedFiles(spark.sql(s"SELECT * FROM $t")).size == 3)
      }
    }
  }

  test("compact regenerates stats; rewritten dirs stop pruning stale") {
    withTable { root =>
      threeBatches(root)
      VersionedTable.compact(spark, root)
      val byDir = VersionedTable.statsByDir(spark, root)
      assert(byDir.size == 1, "compacted snapshot = one covered dir")
      val ids = byDir.values.flatten.flatMap(_.col("id")).toSeq
      assert(ids.flatMap(_.min).map(_.asInstanceOf[Long]).min == 0L)
      assert(ids.flatMap(_.max).map(_.asInstanceOf[Long]).max == 299L)
      // time travel to v2 (pre-compact) still answers exactly — it
      // classifies with its own version's stats
      val old = VersionedTable.read(spark, root, Some(2))
        .filter($"id" === 250L)
      assert(old.count() == 1)
    }
  }

  test("schema evolution: the evolved column never mis-prunes old files") {
    withTable { root =>
      VersionedTable.init(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
      VersionedTable.append(spark, root,
        Seq((3L, "c", Some(7L))).toDF("id", "v", "extra").coalesce(1),
        expectedVersion = 0, evolveSchema = true)
      // old files surface extra as NULL; their stats have no entry
      // for it, so `extra IS NULL` must keep them
      val got = VersionedTable.readWhere(spark, root, $"extra".isNull)
        .select("id").as[Long].collect().toSet
      assert(got == Set(1L, 2L))
      // and an equality on extra keeps old files too (conservative),
      // still answering correctly
      assert(VersionedTable.readWhere(spark, root, $"extra" === 7L)
        .select("id").as[Long].collect().toSet == Set(3L))
    }
  }

  test("0-row files are pruned under any predicate") {
    withTable { root =>
      VersionedTable.init(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
      // an empty append: whatever file layout Spark chooses for the
      // empty write, any 0-row file it leaves must be pruned
      VersionedTable.append(spark, root,
        Seq((9L, "x")).toDF("id", "v").filter($"id" < 0L).coalesce(1),
        expectedVersion = 0)
      val files = VersionedTable.statsByDir(spark, root).values.flatten
      val zeros = files.count(_.rows == 0L)
      val pred = resolvedPred(VersionedTable.read(spark, root),
        $"v".isNotNull)
      val (paths, pruned, covered) =
        VersionedTable.prunedPaths(spark, root, pred)
      assert(covered == files.size && pruned == zeros)
      assert(paths.size + pruned >= 1)
      assert(VersionedTable.readWhere(spark, root, $"v".isNotNull)
        .count() == 2)
    }
  }

  test("the EXECUTED readWhere plan scans only the surviving files") {
    withTable { root =>
      threeBatches(root)
      val df = VersionedTable.readWhere(spark, root, $"id".between(120, 180))
      // collect() drives df's OWN executed plan — count() would build
      // a different QueryExecution whose scan metrics these aren't
      assert(df.collect().length == 61)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a file scan in the executed plan")
      val numFiles = scans.map(_.metrics("numFiles").value).sum
      assert(numFiles == 1,
        s"executed scan read $numFiles files; skipping should leave 1")
      // the unpruned spelling reads all 3
      val full = VersionedTable.read(spark, root)
        .filter($"id".between(120, 180))
      full.collect()
      val fullFiles = full.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.metrics("numFiles").value).sum
      assert(fullFiles == 3)
    }
  }

  test("long string envelopes are truncated to bounded VALID bounds") {
    withTable { root =>
      val longA = "alpha-" + ("x" * 200) // 206 chars, shared prefix
      val longB = "alpha-" + ("x" * 199) + "y"
      VersionedTable.init(spark, root,
        Seq((1L, longA), (2L, longB), (3L, "zeta")).toDF("id", "body")
          .coalesce(1))
      val st = VersionedTable.statsByDir(spark, root)
        .values.flatten.head.col("body").get
      // bounded in the manifest...
      assert(st.min.get.asInstanceOf[String].length <= 70)
      assert(st.max.get.asInstanceOf[String].length <= 70)
      // ...but still VALID bounds: the long values stay findable
      assert(VersionedTable.readWhere(spark, root, $"body" === longB)
        .count() == 1)
      assert(VersionedTable.readWhere(spark, root,
        $"body".startsWith("alpha-x")).count() == 2)
      // and a probe outside the (widened) envelope still prunes
      val pred = resolvedPred(VersionedTable.read(spark, root),
        $"body" === "AAAA")
      assert(VersionedTable.prunedPaths(spark, root, pred)._2 == 1)
    }
  }

  test("rowCount resolves COUNT(*) from the manifest alone") {
    withTable { root =>
      threeBatches(root)
      assert(VersionedTable.rowCount(spark, root).contains(300L))
      // per-version counts track history
      assert(VersionedTable.rowCount(spark, root, Some(0)).contains(100L))
      assert(VersionedTable.rowCount(spark, root, Some(1)).contains(200L))
      // and agree with the real scan
      assert(VersionedTable.read(spark, root).count() == 300L)
    }
  }

  test("cluster() on the write path keeps envelopes tight without OPTIMIZE") {
    withTable { root =>
      // the same 300 rows, committed unclustered vs clustered: the
      // scattered layout gives every file the full id range (nothing
      // prunes); cluster() gives disjoint per-file ranges (one file
      // survives a point probe)
      val d = (0 until 300).map(i => ((i * 7919L) % 300, s"r$i"))
        .toDF("id", "v")
      VersionedTable.init(spark, root,
        VersionedTable.cluster(d, Seq("id"), 4))
      val pred = resolvedPred(VersionedTable.read(spark, root),
        $"id" === 42L)
      val (_, pruned, covered) =
        VersionedTable.prunedPaths(spark, root, pred)
      assert(covered == 4 && pruned == 3,
        s"clustered point probe should keep 1 of 4 files ($pruned/$covered)")
      val scattered = withScattered(d)
      assert(scattered == 0, "scattered layout prunes nothing")
      assert(VersionedTable.readWhere(spark, root, $"id" === 42L)
        .count() == d.filter($"id" === 42L).count())
    }
  }

  private def withScattered(d: org.apache.spark.sql.DataFrame): Int = {
    val tmp = Files.createTempDirectory("graft_skip_scatter")
    try {
      val root = tmp.resolve("tbl").toString
      VersionedTable.init(spark, root, d.repartition(4))
      val pred = resolvedPred(VersionedTable.read(spark, root),
        $"id" === 42L)
      VersionedTable.prunedPaths(spark, root, pred)._2
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("the count rule folds COUNT(*) to a metadata-only LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    withTable { root =>
      threeBatches(root)
      val df = spark.read.format("graft-versioned").load(root)
        .groupBy().count()
      val rewritten = graft.plans.VersionedCountRule()(
        df.queryExecution.analyzed)
      assert(rewritten.collect { case l: LocalRelation => l }.size == 1,
        s"expected a LocalRelation fold:\n$rewritten")
      assert(PlanBridge.ofRows(spark, rewritten).as[Long].collect()
        .toSeq == Seq(300L))
      // version pinning is honored
      val v0 = spark.read.format("graft-versioned")
        .option("versionAsOf", 0).load(root).groupBy().count()
      assert(PlanBridge.ofRows(spark,
        graft.plans.VersionedCountRule()(v0.queryExecution.analyzed))
        .as[Long].collect().toSeq == Seq(100L))
      // a filter between aggregate and relation blocks the rewrite
      val filtered = spark.read.format("graft-versioned").load(root)
        .filter($"id" > 0L).groupBy().count()
      assert(graft.plans.VersionedCountRule()(
        filtered.queryExecution.analyzed)
        .collect { case l: LocalRelation => l }.isEmpty,
        "a filtered count must never fold to metadata")
      // non-count aggregates block the rewrite
      val other = spark.read.format("graft-versioned").load(root)
        .agg(sum($"id"))
      assert(graft.plans.VersionedCountRule()(
        other.queryExecution.analyzed)
        .collect { case l: LocalRelation => l }.isEmpty)
    }
  }

  test("OPTIMIZE Z-order makes 2-d box predicates prune most files") {
    withTable { root =>
      // 32x32 grid scattered in id order: before clustering, every
      // file spans the full y range, so a box on (x, y) prunes only
      // on x; after Z-order OPTIMIZE each file owns a tight 2-d tile
      val grid = spark.range(0, 1024L).selectExpr(
        "id", "id % 32 AS x", "CAST(id / 32 AS BIGINT) AS y")
      VersionedTable.init(spark, root, grid.repartition(8))
      VersionedTable.optimize(spark, root, ("x", "y"), nFiles = 8)
      val cond = $"x".between(0L, 7L) && $"y".between(0L, 7L)
      val pred = resolvedPred(VersionedTable.read(spark, root), cond)
      val (_, pruned, covered) =
        VersionedTable.prunedPaths(spark, root, pred)
      assert(covered == 8, "optimize committed 8 covered files")
      assert(pruned >= covered / 2,
        s"z-ordered tiles should prune most files for a corner box " +
          s"(pruned $pruned of $covered)")
      // and the pruned scan still answers exactly
      assert(VersionedTable.readWhere(spark, root, cond).count() == 64L)
    }
  }

  private def connector(root: String, version: Option[Int] = None)
      : DataFrame = {
    val r = spark.read.format(classOf[VersionedTableSource].getName)
    version.fold(r)(v => r.option("versionAsOf", v.toLong)).load(root)
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** ids 0..199 as one commit of 2 range-split files, then
    * `delete(id === 150)`: the low file carries as a file reference,
    * the high file rewrites. */
  private def twoFilesThenDelete(root: String): Unit = {
    VersionedTable.init(spark, root, VersionedTable.cluster(
      spark.range(0, 200).toDF("id"), Seq("id"), 2))
    assert(VersionedTable.statsByDir(spark, root).values.flatten.size == 2)
    VersionedTable.delete(spark, root, $"id" === 150L)
  }

  /** `root` served by a fresh `graft` catalog whose warehouse is its
    * parent dir; `f` gets the table's qualified name. */
  private def withCatalog(root: String)(f: String => Unit): Unit = {
    val cat = "gskip" + java.util.UUID.randomUUID.toString.take(8)
    val key = s"spark.sql.catalog.$cat"
    spark.conf.set(key, classOf[GraftCatalog].getName)
    spark.conf.set(s"$key.warehouse",
      new java.io.File(root).getParentFile.getAbsolutePath)
    try f(s"$cat.${new java.io.File(root).getName}")
    finally {
      spark.conf.unset(key)
      spark.conf.unset(s"$key.warehouse")
    }
  }
}

object DataSkippingSpec extends AdaptiveSparkPlanHelper {

  /** The files the executed plan's DSv2 scans read. */
  def scannedFiles(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case _ => Seq.empty
      }
    }.flatten
}
