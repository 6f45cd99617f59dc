package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedTableSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtable").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private def snapshot(rows: (Long, String)*) = rows.toDF("id", "body")

  test("init + read round-trips; versions advance monotonically") {
    val root = freshRoot()
    assert(VersionedTable.latestVersion(spark, root) == -1)
    val v0 = VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    assert(v0 == 0 && VersionedTable.latestVersion(spark, root) == 0)
    val got = VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "a", 2L -> "b"))
    val v1 = VersionedTable.commit(spark, root,
      snapshot(1L -> "a2", 2L -> "b"), expectedVersion = 0)
    assert(v1 == 1)
    assert(VersionedTable.read(spark, root).filter(col("id") === 1L)
      .select("body").as[String].collect().toSeq == Seq("a2"))
  }

  test("merge applies the changeset and time travel keeps old versions") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b", 3L -> "c"))
    val cs = Seq((2L, "b2", "U"), (3L, "", "D"), (9L, "i", "U"))
      .toDF("id", "body", "op")
    val v = VersionedTable.merge(spark, root, cs, "id")
    assert(v == 1)
    val now = VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(now == Seq(1L -> "a", 2L -> "b2", 9L -> "i"))
    // time travel: version 0 is intact
    val was = VersionedTable.read(spark, root, Some(0)).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(was == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("a reader's pinned snapshot survives a concurrent merge — the atomicity raw swap lacked") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    // reader resolves BEFORE the merge...
    val pinned = VersionedTable.read(spark, root)
    val cs = Seq((1L, "a2", "U"), (2L, "", "D")).toDF("id", "body", "op")
    VersionedTable.merge(spark, root, cs, "id")
    // ...and collects AFTER it: the old version's files are untouched,
    // so the pinned plan still yields the old complete snapshot (the
    // raw-parquet rename swap would have yanked the directory away)
    val got = pinned.orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "a", 2L -> "b"))
    // and a fresh resolve sees the merged state
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a2"))
  }

  test("optimistic concurrency: a stale commit fails loudly and leaves no orphans") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    VersionedTable.commit(spark, root, snapshot(1L -> "win"),
      expectedVersion = 0)
    val e = intercept[IllegalStateException] {
      VersionedTable.commit(spark, root, snapshot(1L -> "lose"),
        expectedVersion = 0) // derived from v0, but v1 exists
    }
    assert(e.getMessage.contains("version conflict"))
    // the winner's state is intact and the loser's data dir is gone
    assert(VersionedTable.read(spark, root)
      .select("body").as[String].collect().toSeq == Seq("win"))
    val dataDirs = new java.io.File(root, "data").list().toSeq
    assert(dataDirs.size == 2, s"orphan commit dir left behind: $dataDirs")
  }

  test("append reuses existing data files: only the batch is written") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    val v = VersionedTable.append(spark, root, snapshot(3L -> "c"),
      expectedVersion = 0)
    assert(v == 1)
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // v0's single commit dir is REFERENCED by v1, not copied: two data
    // dirs total, and v1's manifest lists both
    assert(new java.io.File(root, "data").list().length == 2)
    // time travel still resolves the pre-append state
    assert(VersionedTable.read(spark, root, Some(0)).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
  }

  test("append is optimistic: a stale append fails and leaves no orphans") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0)
    intercept[IllegalStateException](
      VersionedTable.append(spark, root, snapshot(9L -> "x"), 0))
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
    assert(new java.io.File(root, "data").list().length == 2)
  }

  test("append rejects a mismatched schema loudly") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    val e = intercept[RuntimeException](
      VersionedTable.append(spark, root,
        Seq((2L, "b", 1.0)).toDF("id", "body", "extra"), 0))
    assert(e.getMessage.contains("schema"))
  }

  test("compact folds many appends into one commit dir; reads unchanged; history intact") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0)
    VersionedTable.append(spark, root, snapshot(3L -> "c"), 1)
    assert(new java.io.File(root, "data").list().length == 3)
    val v = VersionedTable.compact(spark, root)
    assert(v == 3)
    // compacted snapshot reads identically...
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // ...v3's manifest references exactly ONE dir (4 dirs on disk
    // until vacuum)...
    assert(new java.io.File(root, "data").list().length == 4)
    VersionedTable.vacuum(spark, root, keepVersions = 1, retainMillis = 0L)
    assert(new java.io.File(root, "data").list().length == 1)
    // ...and the compacted version still serves after vacuum
    assert(VersionedTable.read(spark, root).count() == 3)
  }

  test("vacuum drops unreferenced commit dirs, keeps the retained window") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "v0"))
    VersionedTable.commit(spark, root, snapshot(1L -> "v1"), 0)
    VersionedTable.commit(spark, root, snapshot(1L -> "v2"), 1)
    VersionedTable.vacuum(spark, root, keepVersions = 2, retainMillis = 0L)
    // v1 and v2 readable; v0's manifest and data are gone
    assert(VersionedTable.read(spark, root, Some(2))
      .select("body").as[String].collect().toSeq == Seq("v2"))
    assert(VersionedTable.read(spark, root, Some(1))
      .select("body").as[String].collect().toSeq == Seq("v1"))
    intercept[IllegalArgumentException](
      VersionedTable.read(spark, root, Some(0)))
    assert(new java.io.File(root, "data").list().length == 2)
  }

  test("vacuum's retention horizon spares a recent unreferenced dir — the in-flight commit window") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "v0"))
    // simulate a concurrent writer mid-commit: data dir written, its
    // manifest not yet renamed into place
    val inflight = new java.io.File(new java.io.File(root, "data"),
      "c00001-inflight")
    snapshot(9L -> "pending").write.parquet(inflight.getAbsolutePath)
    VersionedTable.vacuum(spark, root, keepVersions = 1) // default horizon
    assert(inflight.exists(),
      "a dir younger than the retention horizon must survive vacuum")
    // once aged past the horizon it IS garbage and goes
    VersionedTable.vacuum(spark, root, keepVersions = 1, retainMillis = 0L)
    assert(!inflight.exists())
  }

  test("vacuum never deletes a version a pinned reader resolved within the keep window") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "v0"))
    VersionedTable.commit(spark, root, snapshot(1L -> "v1"), 0)
    // reader pins v1 (within keepVersions=2), then v2 commits and
    // vacuum runs — the pinned snapshot's files must survive because
    // v1's manifest is kept
    val pinned = VersionedTable.read(spark, root, Some(1))
    VersionedTable.commit(spark, root, snapshot(1L -> "v2"), 1)
    VersionedTable.vacuum(spark, root, keepVersions = 2, retainMillis = 0L)
    assert(pinned.select("body").as[String].collect().toSeq == Seq("v1"))
  }

  test("two writers on one table: each replay check recognizes only its " +
      "own batches, interleaved commits included") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "seed"))
    // writer A commits batch 0, then writer B commits ITS batch 0,
    // then A commits batch 1 — interleaved, same table root
    VersionedTable.append(spark, root, snapshot(2L -> "a0"), 0,
      txn = Some(0L), txnAppId = Some("writerA"))
    VersionedTable.append(spark, root, snapshot(3L -> "b0"), 1,
      txn = Some(0L), txnAppId = Some("writerB"))
    VersionedTable.append(spark, root, snapshot(4L -> "a1"), 2,
      txn = Some(1L), txnAppId = Some("writerA"))
    // A's replay check finds A's newest batch even though B committed
    // in between; B's finds B's even though it is not the latest
    assert(VersionedTable.lastCommittedTxn(spark, root, "writerA") == Some(1L))
    assert(VersionedTable.lastCommittedTxn(spark, root, "writerB") == Some(0L))
    assert(VersionedTable.lastCommittedTxn(spark, root, "writerC").isEmpty)
    // the anonymous (legacy) check never matches an app-qualified
    // marker — a single-writer topology cannot mistake another app's
    // batch id for its own
    assert(VersionedTable.committedTxn(spark, root).isEmpty)
    // per-version qualified lookup
    assert(VersionedTable.committedTxn(spark, root, Some(1),
      appId = Some("writerA")) == Some(0L))
    assert(VersionedTable.committedTxn(spark, root, Some(1),
      appId = Some("writerB")).isEmpty)
    // the streaming sink path: replaying A's batch 1 no-ops; a new
    // batch 2 appends (versionedAppendBatch is the sink's body)
    graft.streaming.Streams.versionedAppendBatch(spark, root,
      snapshot(4L -> "a1"), batchId = 1L, writerId = Some("writerA"))
    assert(VersionedTable.latestVersion(spark, root) == 3,
      "replayed batch must not re-append")
    graft.streaming.Streams.versionedAppendBatch(spark, root,
      snapshot(5L -> "a2"), batchId = 2L, writerId = Some("writerA"))
    assert(VersionedTable.latestVersion(spark, root) == 4)
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "seed", 2L -> "a0",
        3L -> "b0", 4L -> "a1", 5L -> "a2"))
    // ':' in a writer id would corrupt marker parsing — refused loudly
    intercept[IllegalArgumentException](
      VersionedTable.append(spark, root, snapshot(9L -> "x"), 4,
        txn = Some(0L), txnAppId = Some("bad:id")))
  }

  test("withRetry: a stale-base append retries once against the fresh " +
    "snapshot and both writers' rows land; non-conflict failures and " +
    "exhausted budgets propagate") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    // writer A plans against v0; writer B commits v1 first; A's first
    // attempt conflicts, the retry re-reads and lands as v2
    var attempts = 0
    val staleBase = VersionedTable.latestVersion(spark, root)
    VersionedTable.append(spark, root, snapshot(2L -> "b"),
      expectedVersion = staleBase) // writer B wins the race
    val v = VersionedTable.withRetry() {
      attempts += 1
      val base = if (attempts == 1) staleBase
        else VersionedTable.latestVersion(spark, root)
      VersionedTable.append(spark, root, snapshot(3L -> "c"), base)
    }
    assert(attempts == 2 && v == 2)
    assert(VersionedTable.read(spark, root).select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // an exhausted budget rethrows the conflict
    intercept[VersionConflictException] {
      VersionedTable.withRetry(maxAttempts = 2) {
        VersionedTable.append(spark, root, snapshot(9L -> "x"),
          expectedVersion = 0)
      }
    }
    // a non-conflict failure propagates immediately, no retry
    var calls = 0
    intercept[IllegalArgumentException] {
      VersionedTable.withRetry() { calls += 1; require(false, "boom") }
    }
    assert(calls == 1)
  }

  test("two interleaved writers both succeed hands-free via " +
    "appendRetrying; history shows both commits and no row is lost " +
    "or duplicated") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(0L -> "seed"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writers = (1 to 2).map { w =>
        scala.concurrent.Future {
          (0 until 5).map { i =>
            VersionedTable.appendRetrying(spark, root,
              snapshot((w * 100L + i) -> s"w$w-$i"),
              txn = Some(i.toLong), txnAppId = Some(s"writer$w"))
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writers),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    // 1 seed + 10 appends, every row exactly once
    assert(VersionedTable.latestVersion(spark, root) == 10)
    val ids = VersionedTable.read(spark, root).select("id").as[Long]
      .collect().toSeq
    assert(ids.size == 11 && ids.toSet.size == 11)
    assert(ids.toSet ==
      (Set(0L) ++ (0 until 5).flatMap(i => Seq(100L + i, 200L + i))))
    // both writers' last txn markers resolve through the interleave
    assert(VersionedTable.lastCommittedTxn(spark, root, "writer1")
      .contains(4L))
    assert(VersionedTable.lastCommittedTxn(spark, root, "writer2")
      .contains(4L))
    // and a replayed batch self-recognizes: no new version
    val before = VersionedTable.latestVersion(spark, root)
    VersionedTable.appendRetrying(spark, root, snapshot(999L -> "dup"),
      txn = Some(4L), txnAppId = Some("writer1"))
    assert(VersionedTable.latestVersion(spark, root) == before,
      "replayed batch re-appended")
  }

  test("compactSmall folds only the small-dir tail: big dirs carry by " +
    "identity with their stats, reads unchanged, tiny-dir census drops") {
    val root = freshRoot()
    // one BIG dir (500 rows) + four tiny appends (2 rows each)
    VersionedTable.init(spark, root,
      (0L until 500L).map(i => (i, s"r$i")).toDF("id", "body"))
    var v = 0
    (0 until 4).foreach { k =>
      v = VersionedTable.append(spark, root,
        snapshot((1000L + k) -> s"t$k", (2000L + k) -> s"u$k"),
        expectedVersion = v)
    }
    val before = VersionedTable.readManifest(spark, root, v)
    assert(before.size == 5)
    val bigDir = before.head // init's dir is listed first among carried
    val nv = VersionedTable.compactSmall(spark, root,
      smallDirMaxRows = 100L)
    val after = VersionedTable.readManifest(spark, root, nv)
    // 4 tiny dirs folded into 1; the big dir survives BY IDENTITY
    assert(after.size == 2, s"after: $after")
    assert(after.contains(bigDir), "big dir was rewritten")
    assert(VersionedTable.commitOp(spark, root, nv)
      .contains("compact_small"))
    // stats still cover everything (carried + harvested)
    val byDir = VersionedTable.statsByDir(spark, root, Some(nv))
    after.foreach(d => assert(byDir.contains(d), s"dir $d lost stats"))
    // content identical; old version still time-travels
    assert(VersionedTable.read(spark, root).count() == 508L)
    assert(VersionedTable.read(spark, root, Some(v)).count() == 508L)
    // nothing left to fold: a second pass is a true no-op
    assert(VersionedTable.compactSmall(spark, root, 100L) == nv)
  }

  test("additive schema evolution: evolved append reads old files as NULL, " +
      "old versions time-travel with their original schema") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    // evolveSchema=false still refuses drift (the default contract)
    intercept[RuntimeException](
      VersionedTable.append(spark, root,
        Seq((3L, "c", Some("en"))).toDF("id", "body", "lang"), 0))
    // additive evolution: new nullable column appended
    val v1 = VersionedTable.append(spark, root,
      Seq((3L, "c", Some("en"))).toDF("id", "body", "lang"), 0,
      evolveSchema = true)
    assert(v1 == 1)
    val now = VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(now == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some("en"))),
      s"evolved read was $now")
    // old version keeps its ORIGINAL two-column schema
    assert(VersionedTable.read(spark, root, Some(0)).columns.toSeq ==
      Seq("id", "body"))
    // a plain append at the evolved schema carries the pin forward
    val v2 = VersionedTable.append(spark, root,
      Seq((4L, "d", Option.empty[String])).toDF("id", "body", "lang"), 1)
    assert(VersionedTable.read(spark, root, Some(v2)).count() == 4)
    assert(VersionedTable.read(spark, root, Some(v2)).columns.toSeq ==
      Seq("id", "body", "lang"))
    // the DSv2 connector reads the evolved table under the same pin
    // (footer inference over mixed-schema dirs would be nondeterministic)
    val viaConnector = spark.read.format("graft-versioned")
      .option("versionAsOf", v2).load(root)
    assert(viaConnector.columns.toSeq == Seq("id", "body", "lang"))
    assert(viaConnector.orderBy("id")
      .as[(Long, String, Option[String])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some("en")),
        (4L, "d", None)))
    // ...and an append at the OLD schema is now drift (refused)
    intercept[RuntimeException](
      VersionedTable.append(spark, root, snapshot(9L -> "x"), v2))
    // non-additive evolution (type change) refused even with the flag
    intercept[RuntimeException](
      VersionedTable.append(spark, root,
        Seq(("5", "e", Some("fr"))).toDF("id", "body", "lang"), v2,
        evolveSchema = true))
    // evolved column must be nullable: a non-nullable add is refused
    val nonNullable = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(6L, "f", "en", 1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType, nullable = false))))
    intercept[IllegalArgumentException](
      VersionedTable.append(spark, root, nonNullable, v2,
        evolveSchema = true))
    // compact re-homogenizes: the pin is dropped, contents unchanged
    val v3 = VersionedTable.compact(spark, root)
    assert(VersionedTable.manifestSchema(spark, root, v3).isEmpty)
    assert(VersionedTable.read(spark, root, Some(v3)).orderBy("id")
      .as[(Long, String, Option[String])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some("en")),
        (4L, "d", None)))
  }

  test("txn marker rides the manifest atomically and reads back per version") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"), txn = Some(0L))
    assert(VersionedTable.committedTxn(spark, root) == Some(0L))
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0, txn = Some(1L))
    assert(VersionedTable.committedTxn(spark, root) == Some(1L))
    assert(VersionedTable.committedTxn(spark, root, Some(0)) == Some(0L))
    // a txn-less maintenance commit clears the marker for its version
    VersionedTable.compact(spark, root)
    assert(VersionedTable.committedTxn(spark, root).isEmpty)
    // data reads are unaffected by marker lines
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
  }

  test("history: one metadata-only row per version, operations recorded") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    VersionedTable.append(spark, root, snapshot(3L -> "c"), 0)
    VersionedTable.merge(spark, root,
      Seq((2L, "b2", "U")).toDF("id", "body", "op"), "id")
    VersionedTable.compact(spark, root)
    val h = VersionedTable.history(spark, root).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(3, 2, 1, 0), "newest first")
    assert(h.map(_.getString(1)).toSeq ==
      Seq("compact", "merge", "append", "init"))
    // num_rows from manifest stats matches the real snapshots
    val rowsByV = h.map(r => r.getInt(0) -> r.getLong(5)).toMap
    assert(rowsByV == Map(0 -> 2L, 1 -> 3L, 2 -> 3L, 3 -> 3L))
    // commit timestamps are monotone non-decreasing with version
    val ts = h.sortBy(_.getInt(0)).map(_.getTimestamp(2).getTime).toSeq
    assert(ts == ts.sorted)
  }

  test("versionAt + timestampAsOf resolve timestamp time travel") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    Thread.sleep(1100) // local-FS mtime granularity can be 1 s
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0)
    assert(VersionedTable.versionAt(spark, root, between).contains(0))
    assert(VersionedTable.versionAt(spark, root,
      System.currentTimeMillis()).contains(1))
    assert(VersionedTable.versionAt(spark, root, 0L).isEmpty)
    // the DSv2 spelling
    val old = spark.read.format("graft-versioned")
      .option("timestampAsOf", between.toString).load(root)
    assert(old.as[(Long, String)].collect().toSeq == Seq(1L -> "a"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned")
        .option("timestampAsOf", "0").load(root).collect()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned")
        .option("versionAsOf", "0")
        .option("timestampAsOf", between.toString).load(root).collect()
    }
  }

  test("renameColumn: an explicit rewrite — new name serves, time " +
    "travel keeps the exact pre-rename schema, version-range change " +
    "feeds still serve each side of the boundary") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a", 2L -> "b"))
    val v = VersionedTable.renameColumn(spark, root, "body", "text")
    assert(VersionedTable.read(spark, root).schema.fieldNames.toSeq ==
      Seq("id", "text"), "new name serves")
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"),
      "values untouched")
    assert(VersionedTable.read(spark, root, Some(0))
      .schema.fieldNames.toSeq == Seq("id", "body"),
      "time travel keeps the exact old schema")
    // a later append writes under the NEW schema with no pin residue,
    // and the change feed serves post-rename commits normally
    val v2 = VersionedTable.append(spark, root,
      Seq((3L, "c")).toDF("id", "text"), expectedVersion = v)
    assert(VersionedTable.read(spark, root).count() == 3)
    val after = VersionedTable.changeFeed(spark, root, v2, Some(v2))
    assert(after.count() == 1 &&
      after.schema.fieldNames.contains("text"),
      "post-rename commits feed under the new schema")
    // a feed RANGE crossing the rename boundary mixes two schemas —
    // it fails to analyze (loud) rather than pairing columns wrongly
    intercept[Throwable] {
      VersionedTable.changeFeed(spark, root, v, Some(v2)).count()
    }
    // errors: missing column, collision, case-insensitive match
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "TEXT", "id")
    }
    // a CASE-ONLY rename is a legitimate casing fix, not a collision
    VersionedTable.renameColumn(spark, root, "text", "Text")
    assert(VersionedTable.read(spark, root).schema.fieldNames
      .contains("Text"))
  }

  test("renameColumn pre-flight refusals name the unpin spelling: " +
    "bucket key, CDC key, explicit stats pins, constraints — and a " +
    "'*' stats pin rides through with fresh sketches") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      spark.range(100).select($"id", ($"id" % 7).as("k"),
        concat(lit("s"), $"id").as("s")))
    VersionedTable.enableBucketing(spark, root, "k", 4)
    assert(intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "k", "k2")
    }.getMessage.contains("disableBucketing"))
    VersionedTable.disableBucketing(spark, root)
    // ANY enabled feed refuses a rename (schema-changing rewrite),
    // even when the renamed column is not the feed key
    VersionedTable.enableChangeFeed(spark, root, "id")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "k", "k2")
    }.getMessage.contains("disableChangeFeed"))
    VersionedTable.disableChangeFeed(spark, root)
    VersionedTable.enableNdvStats(spark, root, Seq("k"))
    assert(intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "k", "k2")
    }.getMessage.contains("disableNdvStats"))
    VersionedTable.disableNdvStats(spark, root)
    VersionedTable.addConstraint(spark, root, "kpos", "k >= 0")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "k", "k2")
    }.getMessage.contains("dropConstraint"))
    VersionedTable.dropConstraint(spark, root, "kpos")
    // '*' pins are name-free: the rewrite re-sketches automatically
    VersionedTable.enableNdvStats(spark, root)
    VersionedTable.renameColumn(spark, root, "k", "k2")
    val ndv = VersionedTable.tableNdv(spark, root)
    assert(ndv.get("k2").contains(7L),
      s"renamed column re-sketched under the new name, got $ndv")
    assert(!ndv.contains("k"))
  }

  test("dropColumn: explicit rewrite — column gone forward, intact " +
    "under time travel; constraint/pin pre-flight; can't drop the " +
    "last column") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      spark.range(50).select($"id", ($"id" % 5).as("k"),
        concat(lit("s"), $"id").as("s")))
    VersionedTable.addConstraint(spark, root, "kpos", "k >= 0")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, "k")
    }.getMessage.contains("dropConstraint"))
    VersionedTable.dropConstraint(spark, root, "kpos")
    val v = VersionedTable.dropColumn(spark, root, "k")
    assert(VersionedTable.read(spark, root).schema.fieldNames.toSeq ==
      Seq("id", "s"))
    assert(VersionedTable.read(spark, root, Some(0))
      .schema.fieldNames.toSeq == Seq("id", "k", "s"),
      "time travel keeps the dropped column")
    assert(VersionedTable.read(spark, root).count() == 50)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, "k") // already gone
    }
    VersionedTable.dropColumn(spark, root, "s")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, "id")
    }.getMessage.contains("only column"))
    assert(v == 3, "init, addConstraint, dropConstraint, then the drop")
  }

  test("widenColumnType: lossless widenings rewrite (values exact, " +
    "time travel keeps the narrow type); lossy/narrowing and the " +
    "bucket key refuse") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      spark.range(40).select($"id".cast("int").as("i"),
        ($"id" * 1.5f).cast("float").as("f")))
    import org.apache.spark.sql.types._
    VersionedTable.widenColumnType(spark, root, "i", LongType)
    VersionedTable.widenColumnType(spark, root, "f", DoubleType)
    val sch = VersionedTable.read(spark, root).schema
    assert(sch("i").dataType == LongType && sch("f").dataType == DoubleType)
    assert(VersionedTable.read(spark, root)
      .agg(sum($"i")).head.getLong(0) == (0L until 40L).sum)
    assert(VersionedTable.read(spark, root, Some(0))
      .schema("i").dataType == IntegerType,
      "time travel keeps the narrow type")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumnType(spark, root, "i", IntegerType)
    }.getMessage.contains("lossless"), "narrowing refused")
    assert(intercept[IllegalArgumentException] {
      // long→double is lossy above 2^53
      VersionedTable.widenColumnType(spark, root, "i", DoubleType)
    }.getMessage.contains("lossless"))
    // explicit stats pins RIDE THROUGH a widen (the pin name
    // survives; the rewrite re-sketches in the unchanged long domain)
    val root3 = freshRoot()
    VersionedTable.init(spark, root3,
      spark.range(40).select($"id".cast("int").as("i"), $"id".as("v")))
    VersionedTable.enableNdvStats(spark, root3, Seq("i"))
    VersionedTable.widenColumnType(spark, root3, "i", LongType)
    assert(VersionedTable.tableNdv(spark, root3).get("i").contains(40L),
      "widened column re-sketched under its carried pin")
    // bucket key: murmur3 is type-dependent — widening it refuses
    val root2 = freshRoot()
    VersionedTable.init(spark, root2,
      spark.range(40).select($"id".cast("int").as("k"), $"id".as("v")))
    VersionedTable.enableBucketing(spark, root2, "k", 4)
    assert(intercept[IllegalArgumentException] {
      VersionedTable.widenColumnType(spark, root2, "k", LongType)
    }.getMessage.contains("disableBucketing"))
  }

  test("consumer-floor registry: readers publish advisory floors, " +
    "the retention schedule counts who a setting would starve, and " +
    "vacuum deliberately ignores the registry") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a")) // v0
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0) // v1
    VersionedTable.append(spark, root, snapshot(3L -> "c"), 1) // v2
    VersionedTable.publishConsumerFloor(spark, root, "tail-a", 1)
    // an MV publishes its watermark with one call, under mv:<name>
    val mvRoot = new java.io.File(
      new java.io.File(root).getParentFile, "mv").getAbsolutePath
    MaterializedView.create(spark, mvRoot, root, Seq("body"),
      Seq(MaterializedView.MvCount("cnt")))
    MaterializedView.refresh(spark, mvRoot)
    MaterializedView.publishFloor(spark, mvRoot)
    val floors = VersionedTable.consumerFloors(spark, root)
      .select("consumer", "floor_version")
      .as[(String, Long)].collect().toMap
    assert(floors("tail-a") == 1L &&
      floors(MaterializedView.floorConsumerId(mvRoot)) == 2L,
      s"got $floors")
    // merge-by-key: re-publishing replaces, never duplicates
    VersionedTable.publishConsumerFloor(spark, root, "tail-a", 0)
    val floors2 = VersionedTable.consumerFloors(spark, root)
    assert(floors2.count() == 2)
    assert(floors2.filter(col("consumer") === "tail-a")
      .select("floor_version").as[Long].head == 0L)
    // the schedule: keeping everything starves nobody; keeping only
    // the live version (earliest kept 2) starves exactly the floor-0
    // consumer — the mv's floor 2 is still satisfied
    val sched = VersionedTable.retentionSchedule(spark, root)
      .orderBy("keep_versions").collect()
    assert(sched.head.getLong(6) == 1L,
      s"keep=1 must report 1 consumer behind, got ${sched.head}")
    assert(sched.last.getLong(6) == 0L,
      "keeping the full history starves no registered consumer")
    // ADVISORY: vacuum still runs regardless (an abandoned id must
    // not pin storage), and the registry survives the vacuum
    VersionedTable.vacuum(spark, root, keepVersions = 1,
      retainMillis = 0L)
    assert(VersionedTable.earliestVersion(spark, root) == 2)
    assert(VersionedTable.consumerFloors(spark, root).count() == 2)
    // a base without any registry serves an EMPTY frame, not an error
    val bare = freshRoot()
    VersionedTable.init(spark, bare, snapshot(1L -> "x"))
    assert(VersionedTable.consumerFloors(spark, bare).count() == 0)
    assert(VersionedTable.retentionSchedule(spark, bare)
      .select("consumers_behind").as[Long].collect().forall(_ == 0L))
  }

  test("consumer registry self-vacuums on the publish cadence: the " +
    "control table's manifest count stays bounded for the lifetime " +
    "of a publishing stream, and the floors survive every sweep") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a"))
    val creg = root + "/_consumers"
    // 9 publishes at cadence 4: registry versions 0..8, sweeps fire
    // at heads 4 and 8 (head % 4 == 0), each keeping 4 versions
    (1 to 9).foreach(i => VersionedTable.publishConsumerFloor(
      spark, root, s"c${i % 3}", i, selfVacuumEvery = 4))
    val fs = new org.apache.hadoop.fs.Path(creg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(
      new org.apache.hadoop.fs.Path(creg, "_manifests"))
      .map(_.getPath.getName).count(_.endsWith(".json"))
    assert(manifests <= 4,
      s"self-vacuum must bound the registry history, got $manifests " +
        s"manifests (earliest ${VersionedTable.earliestVersion(spark, creg)})")
    assert(VersionedTable.earliestVersion(spark, creg) == 5,
      "sweep at head 8 keeps versions 5..8")
    // merge-by-key state is intact: 3 consumer ids, latest floors win
    val floors = VersionedTable.consumerFloors(spark, root)
      .select("consumer", "floor_version")
      .as[(String, Long)].collect().toMap
    assert(floors == Map("c1" -> 7L, "c2" -> 8L, "c0" -> 9L),
      s"got $floors")
  }

  test("retentionSchedule stays consistent when a kept manifest " +
    "references an externally-removed dir: dirs_dropped never drifts " +
    "negative") {
    val root = freshRoot()
    VersionedTable.init(spark, root, snapshot(1L -> "a")) // v0: dir A
    VersionedTable.append(spark, root, snapshot(2L -> "b"), 0) // v1: +B
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate an external actor deleting v1's fresh dir out from
    // under the table — the manifest still references it
    val appended = VersionedTable.readManifest(spark, root, 1)
      .filterNot(VersionedTable.readManifest(spark, root, 0).toSet)
    assert(appended.size == 1)
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "data"), appended.head), true)
    val sched = VersionedTable.retentionSchedule(spark, root)
      .orderBy("keep_versions").collect()
    assert(sched.forall(_.getLong(3) >= 0L),
      s"dirs_dropped must never go negative, got ${sched.toSeq}")
    // every kept setting keeps the one surviving dir: nothing drops
    assert(sched.forall(_.getLong(3) == 0L), s"got ${sched.toSeq}")
    assert(sched.forall(_.getLong(5) == 0L),
      s"no reclaimable bytes from a dir that is already gone: " +
        s"${sched.toSeq}")
  }

  test("a re-init at the same root serves the new table's envelopes " +
    "and NDV, not the dead table's") {
    val root = freshRoot()
    VersionedTable.init(spark, root,
      spark.range(0, 100).select(col("id"), col("id").as("k")))
    VersionedTable.enableNdvStats(spark, root, Seq("k"))
    val env0 = VersionedTable.columnEnvelopes(spark, root)("id")
    assert(env0.min.contains(0L) && env0.max.contains(99L))
    assert(VersionedTable.tableNdv(spark, root)("k") > 50L)
    val dir = new org.apache.hadoop.fs.Path(root)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dir, true)
    VersionedTable.init(spark, root, spark.range(1000, 1100)
      .select(col("id"), (col("id") % 7).as("k")))
    VersionedTable.enableNdvStats(spark, root, Seq("k"))
    val env1 = VersionedTable.columnEnvelopes(spark, root)("id")
    assert(env1.min.contains(1000L) && env1.max.contains(1099L), s"$env1")
    assert(VersionedTable.tableNdv(spark, root)("k") < 20L)
  }
}
