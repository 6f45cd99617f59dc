package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom file-skipping contract: equality lookups on a pinned
  * high-cardinality UNCLUSTERED column prune to ~the files that hold
  * the value (the envelopes can't — every file spans the hex domain),
  * while never pruning a file that holds it (no false negatives,
  * asserted exhaustively), staying invisible to answers, surviving
  * rewrites, and degrading conservatively wherever coverage is
  * absent. */
class BloomSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("bloom_spec")
  private def rm(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit

  /** 3 appends × 2 files of rows whose `fp` (hex hash) and `h`
    * (long hash) are UNCLUSTERED: every file's envelope spans the
    * domain, so min/max pruning gets nothing — exactly bloom
    * territory. */
  private def buildTable(root: String): Unit = {
    def batch(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id"),
        md5(col("id").cast("string")).as("fp"),
        xxhash64(col("id")).as("h"))
        .repartition(2) // unclustered within the dir too
    VersionedTable.init(spark, root, batch(0, 200))
    VersionedTable.append(spark, root, batch(200, 400), 0)
    VersionedTable.append(spark, root, batch(400, 600), 1)
  }

  private def prunes(root: String, cond: org.apache.spark.sql.Column)
      : (Int, Int) = {
    val schema = VersionedTable.read(spark, root).schema
    val pred = VersionedTable.resolveCondition(spark, schema, cond).get
    val (_, pruned, covered) = VersionedTable.prunedPaths(
      spark, root, pred)
    (pruned, covered)
  }

  test("enable backfills sidecars; a hex point lookup prunes most " +
    "files and answers exactly; envelopes alone prune nothing") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      val probe = spark.range(123, 124)
        .select(md5(col("id").cast("string"))).head.getString(0)
      // pre-enable: hex envelopes overlap fully — zero pruning power
      val (p0, c0) = prunes(root, col("fp") === probe)
      assert(p0 == 0 && c0 == 6,
        s"random-hex envelopes should prune nothing, got $p0/$c0")
      VersionedTable.enableBloomFilters(spark, root, Seq("fp", "h"))
      val (p1, c1) = prunes(root, col("fp") === probe)
      assert(c1 == 6 && p1 >= 4,
        s"bloom should prune most of 6 files, pruned $p1")
      // answers: skipped scan == full filter scan
      val got = VersionedTable.readWhere(spark, root,
        col("fp") === probe).collect().toSeq
      val want = VersionedTable.read(spark, root)
        .filter(col("fp") === probe).collect().toSeq
      assert(got == want && got.size == 1)
    } finally rm(dir)
  }

  test("a connector read on a bloom-pinned column prunes by bloom") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp", "h"))
      val probe = spark.range(123, 124)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val cond = col("fp") === probe
      val (pruned, covered) = prunes(root, cond)
      assert(covered == 6 && pruned >= 4)
      val df = spark.read.format(classOf[VersionedTableSource].getName)
        .load(root).filter(cond)
      assert(DataSkippingSpec.scannedFiles(df).size == covered - pruned)
      val want = VersionedTable.read(spark, root).filter(cond)
        .collect().toSeq
      assert(df.collect().toSeq == want && want.size == 1)
    } finally rm(dir)
  }

  test("no false negatives, string and long domains: every present " +
    "value still scans its file (exhaustive)") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp", "h"))
      val rows = VersionedTable.read(spark, root)
        .select("id", "fp", "h").collect()
      // exhaustive: every row's fp and h must survive its own lookup
      rows.foreach { r =>
        val byFp = VersionedTable.readWhere(spark, root,
          col("fp") === r.getString(1)).count()
        assert(byFp >= 1, s"false negative on fp of id=${r.getLong(0)}")
        val byH = VersionedTable.readWhere(spark, root,
          col("h") === r.getLong(2)).count()
        assert(byH >= 1, s"false negative on h of id=${r.getLong(0)}")
      }
    } finally rm(dir)
  }

  test("IN lists prune to the union of their members' files; a miss " +
    "value prunes everything bloom-covered") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      val prs = spark.range(7, 9).select(md5(col("id").cast("string")))
        .collect().map(_.getString(0))
      val (pIn, _) = prunes(root, col("fp").isin(prs.toSeq: _*))
      assert(pIn >= 2, s"IN lookup should still prune, pruned $pIn")
      // absent value: with fpp 1% over 6 files, expect all pruned
      // (allow 1 false positive without flaking)
      val (pMiss, _) = prunes(root,
        col("fp") === "0123456789abcdef0123456789abcdef")
      assert(pMiss >= 5, s"absent value should prune ~all, pruned $pMiss")
      val miss = VersionedTable.readWhere(spark, root,
        col("fp") === "0123456789abcdef0123456789abcdef").count()
      assert(miss == 0)
    } finally rm(dir)
  }

  test("commits after enable maintain coverage at O(delta); rewrites " +
    "rebuild the new dir's sidecar; disable removes pin + sidecars") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      // post-enable append: the new dir must be covered by the commit
      VersionedTable.append(spark, root,
        spark.range(600, 800).select(col("id"),
          md5(col("id").cast("string")).as("fp"),
          xxhash64(col("id")).as("h")).repartition(2),
        VersionedTable.latestVersion(spark, root))
      val probeNew = spark.range(700, 701)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val (pNew, cNew) = prunes(root, col("fp") === probeNew)
      assert(cNew == 8 && pNew >= 6,
        s"append-after-enable must stay covered, pruned $pNew/$cNew")
      // rewrite: compact collapses all dirs into one fresh dir — the
      // commit path must give IT a sidecar too
      VersionedTable.compact(spark, root)
      val (pC, cC) = prunes(root, col("fp") === probeNew)
      assert(cC > 0 && pC >= 0) // counts depend on compact layout
      val got = VersionedTable.readWhere(spark, root,
        col("fp") === probeNew).count()
      assert(got == 1)
      // disable: pin gone, sidecars gone, answers unchanged
      VersionedTable.disableBloomFilters(spark, root)
      assert(VersionedTable.bloomColumns(spark, root).isEmpty)
      val dataRoot = new org.apache.hadoop.fs.Path(root, "data")
      val fs = dataRoot.getFileSystem(
        spark.sessionState.newHadoopConf())
      fs.listStatus(dataRoot).foreach { st =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
          BloomSkipping.SidecarName)),
          s"sidecar survived disable under ${st.getPath}")
      }
      assert(VersionedTable.readWhere(spark, root,
        col("fp") === probeNew).count() == 1)
    } finally rm(dir)
  }

  test("conservative passes: unpinned columns, non-equality shapes, " +
    "nulls, and OR mixing stay unpruned-by-bloom but exact") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      // range shape on the pinned column: bloom is silent, envelopes
      // own it; answer must match
      val full = VersionedTable.read(spark, root)
      assert(VersionedTable.readWhere(spark, root,
        col("fp") > "f").count() == full.filter(col("fp") > "f").count())
      // OR with an unpinned side must not prune the unpinned side away
      val probe = spark.range(5, 6)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val cond = col("fp") === probe || col("id") === 599L
      assert(VersionedTable.readWhere(spark, root, cond).count() == 2)
      // refusals: '*', unknown column, ineligible type, double enable
      intercept[IllegalArgumentException] {
        VersionedTable.enableBloomFilters(spark, root, Seq.empty)
      }
      intercept[IllegalArgumentException] {
        VersionedTable.enableBloomFilters(spark, root, Seq("nope"))
      }
      intercept[IllegalArgumentException] {
        VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      }
    } finally rm(dir)
  }

  test("runtime bloom pruning: a selective broadcast-dim join on a " +
    "bloom-pinned hash column carries a runtime filter and the fact " +
    "scan skips the files whose blooms miss every key") {
    import spark.implicits._
    val whDir = java.nio.file.Files.createTempDirectory("bloom_rt_wh")
    try {
      spark.conf.set("spark.sql.catalog.gbl",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gbl.warehouse", whDir.toString)
      // 4 single-file appends of 250 rows each; fp is unclustered hex
      val root = whDir.resolve("fact").toString
      def batch(lo: Long): org.apache.spark.sql.DataFrame =
        spark.range(lo, lo + 250).select(col("id"),
          md5(col("id").cast("string")).as("fp")).coalesce(1)
      VersionedTable.init(spark, root, batch(0))
      (1 to 3).foreach(i =>
        VersionedTable.append(spark, root, batch(i * 250L), i - 1))
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      // dim: two hit keys (ids 10 and 700 — different files), one miss
      val hits = Seq(10L, 700L).map(i => spark.range(i, i + 1)
        .select(md5(col("id").cast("string"))).head.getString(0))
      spark.sql("CREATE TABLE gbl.dim (fp STRING, w STRING)")
      spark.sql("INSERT INTO gbl.dim VALUES " +
        s"('${hits(0)}', 'hit'), ('${hits(1)}', 'hit'), " +
        "('0123456789abcdef0123456789abcdef', 'miss')")
      // at this toy scale AQE declines to REUSE the join's broadcast
      // for the pruning subquery and (under reuseBroadcastOnly, the
      // default) degrades the filter to `true`; allowing a standalone
      // subquery isolates the mechanism under test — production-size
      // facts reuse the join's own broadcast
      val oldReuse = spark.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      val joined = spark.sql(
        "SELECT f.id, d.w FROM gbl.fact f JOIN gbl.dim d " +
          "ON f.fp = d.fp WHERE d.w = 'hit'")
      try assert(joined.collect().map(_.getLong(0)).toSet ==
        Set(10L, 700L))
      finally spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        oldReuse)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec if b.runtimeFilters.nonEmpty => Seq(b)
        case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
      val factScans = scans(joined.queryExecution.executedPlan)
      assert(factScans.nonEmpty, "fact scan must carry a runtime " +
        s"filter:\n${joined.queryExecution.executedPlan}")
      // two hit keys live in two distinct 250-row files; at 1% fpp
      // allow one false-positive file before calling it a regression
      val read = factScans.map(_.metrics("numOutputRows").value).max
      assert(read <= 750,
        s"runtime bloom pruning must skip unmatched files, read $read " +
          "of 1000 rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(whDir.toFile): Unit
    }
  }

  test("a file read in multiple input splits merges its partial " +
    "filters — still no false negatives") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      // ONE file per dir, large enough to split under a tiny
      // maxPartitionBytes
      VersionedTable.init(spark, root,
        spark.range(0, 20000).select(col("id"),
          md5(col("id").cast("string")).as("fp")).coalesce(1))
      val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      } finally
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
      val probes = Seq(1L, 9999L, 19999L).map(i =>
        spark.range(i, i + 1).select(md5(col("id").cast("string")))
          .head.getString(0))
      probes.foreach { p =>
        assert(VersionedTable.readWhere(spark, root,
          col("fp") === p).count() == 1, s"false negative on $p")
      }
    } finally rm(dir)
  }

  test("bloom sidecars prune the row-level DELETE/UPDATE rewrite " +
    "set: a point-keyed delete on a hash column rewrites ONE dir, " +
    "not the table (and without the pin, rewrites everything)") {
    val dir = tmp()
    try {
      def build(root: String, pin: Boolean): Unit = {
        // 3 commit dirs of random-hex hashes: every dir's envelope
        // spans the full domain, so min/max pruning provably gets
        // nothing — only the blooms can tell the dirs apart
        VersionedTable.init(spark, root,
          spark.range(0, 500).select(col("id"),
            md5(col("id").cast("string")).as("fp")))
        (1 to 2).foreach(i => VersionedTable.append(spark, root,
          spark.range(i * 500L, i * 500L + 500).select(col("id"),
            md5(col("id").cast("string")).as("fp")), i - 1))
        if (pin) VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      }
      val probe = spark.range(1200, 1201)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val pinned = dir.resolve("pinned").toString
      build(pinned, pin = true)
      val before = VersionedTable.dataDirs(spark, pinned).toSet
      VersionedTable.delete(spark, pinned, col("fp") === probe)
      val after = VersionedTable.dataDirs(spark, pinned).toSet
      assert(before.intersect(after).size >= before.size - 1,
        s"bloom-pinned delete must carry the untouched dirs: " +
          s"carried ${before.intersect(after).size} of ${before.size}")
      assert(VersionedTable.read(spark, pinned).count() == 1499)
      assert(VersionedTable.readWhere(spark, pinned,
        col("fp") === probe).count() == 0)
      // UPDATE rides the same classification
      val probe2 = spark.range(100, 101)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val b2 = VersionedTable.dataDirs(spark, pinned).toSet
      VersionedTable.update(spark, pinned, col("fp") === probe2,
        Seq("id" -> (col("id") + 1000000L)))
      val a2 = VersionedTable.dataDirs(spark, pinned).toSet
      assert(b2.intersect(a2).size >= b2.size - 1,
        "bloom-pinned update must carry the untouched dirs")
      assert(VersionedTable.readWhere(spark, pinned,
        col("fp") === probe2).select("id").head.getLong(0) == 1000100L)
      // control: the SAME delete without the pin rewrites every dir
      // (overlapping envelopes prune nothing) — the measured gap the
      // wiring closes
      val bare = dir.resolve("bare").toString
      build(bare, pin = false)
      val beforeBare = VersionedTable.dataDirs(spark, bare).toSet
      VersionedTable.delete(spark, bare, col("fp") === probe)
      val afterBare = VersionedTable.dataDirs(spark, bare).toSet
      assert(beforeBare.intersect(afterBare).isEmpty,
        "without blooms, overlapping envelopes force a full rewrite " +
          "(if this starts passing, the control is no longer a control)")
      assert(VersionedTable.read(spark, bare).count() == 1499)
    } finally rm(dir)
  }

  test("file-level DML carry CLOSES the round-17 measured gap: a " +
    "point delete against one many-file dir rewrites ONLY the files " +
    "the blooms implicate — the clean files carry as in-place file " +
    "references, zero bytes copied") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      // ONE large commit: 1 dir, 16 files — the shape any big append
      // produces (files scale with partitions, dirs do not)
      VersionedTable.init(spark, root,
        spark.range(0, 80000).select(col("id"),
          md5(col("id").cast("string")).as("fp")).repartition(16))
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      val probe = spark.range(12345, 12346)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val schema = VersionedTable.read(spark, root).schema
      val pred = VersionedTable.resolveCondition(spark, schema,
        col("fp") === probe).get
      val (_, pruned, covered) = VersionedTable.prunedPaths(
        spark, root, pred)
      val mayMatch = covered - pruned
      assert(covered == 16 && mayMatch <= 3,
        s"blooms should isolate ~1 of 16 files, got $mayMatch")
      // the delete's carry unit is now the FILE: exactly the
      // may-match files rewrite, the other 13+ carry as manifest
      // file references into the original dir
      val baseV = VersionedTable.latestVersion(spark, root)
      val v = VersionedTable.delete(spark, root, col("fp") === probe)
      val refs = VersionedTable.readManifest(spark, root, v)
      val carriedFiles = refs.filter(VersionedTable.refIsFile)
      assert(carriedFiles.size == 16 - mayMatch,
        s"expected ${16 - mayMatch} carried file refs, got " +
          s"${carriedFiles.size} in $refs")
      // the rewrite wrote at most mayMatch files' worth of data into
      // ONE fresh dir; nothing else is new
      assert(refs.count(!VersionedTable.refIsFile(_)) == 1,
        s"one fresh rewrite dir expected, got $refs")
      assert(VersionedTable.read(spark, root).count() == 79999)
      assert(VersionedTable.readWhere(spark, root,
        col("fp") === probe).count() == 0)
      // carried refs keep their stats: the snapshot row count still
      // resolves from the manifest alone
      assert(VersionedTable.rowCount(spark, root).contains(79999L))
      // time travel: the pre-delete version still reads the dir whole
      assert(VersionedTable.read(spark, root, Some(baseV)).count()
        == 80000)
      // and the carried files' bloom coverage still prunes: a lookup
      // for a SURVIVING key opens few files, not 16
      val probe2 = spark.range(500, 501)
        .select(md5(col("id").cast("string"))).head.getString(0)
      val pred2 = VersionedTable.resolveCondition(spark, schema,
        col("fp") === probe2).get
      val (_, pruned2, covered2) = VersionedTable.prunedPaths(
        spark, root, pred2, Some(v))
      assert(covered2 - pruned2 <= 4,
        s"carried file refs lost bloom pruning: ${covered2 - pruned2} " +
          s"of $covered2 may-match")
    } finally rm(dir)
  }

  test("a sidecar from another PROBE DOMAIN reads as no coverage — " +
    "scans stay correct but prune nothing — and repinBloomFilters " +
    "is the rebuild that restores pruning") {
    val dir = tmp()
    try {
      val root = dir.resolve("t").toString
      buildTable(root)
      VersionedTable.enableBloomFilters(spark, root, Seq("fp"))
      val probe = spark.range(77, 78)
        .select(md5(col("id").cast("string"))).head.getString(0)
      assert(prunes(root, col("fp") === probe)._1 >= 4)
      // doctor every sidecar's domain header (offset 8: after Magic
      // and the container Version) to a FUTURE domain — what a probe-
      // mapping change would leave behind
      VersionedTable.dataDirs(spark, root).foreach { d =>
        val p = new java.io.File(d, BloomSkipping.SidecarName).toPath
        val bytes = java.nio.file.Files.readAllBytes(p)
        val buf = java.nio.ByteBuffer.wrap(bytes)
        buf.putInt(8, buf.getInt(8) + 1)
        java.nio.file.Files.write(p, bytes)
        // local FS checksum sibling of the doctored file
        new java.io.File(new java.io.File(d),
          s".${BloomSkipping.SidecarName}.crc").delete()
      }
      BloomSkipping.invalidateUnder(root)
      // foreign-domain filters must NOT be consulted (a stale byte
      // mapping could falsely prove absence) — coverage reads absent,
      // the lookup scans everything and still answers exactly
      assert(prunes(root, col("fp") === probe)._1 == 0,
        "a foreign-domain sidecar must read as no coverage")
      assert(VersionedTable.readWhere(spark, root,
        col("fp") === probe).count() == 1)
      // the rebuild spelling: one atomic repin restores pruning
      VersionedTable.repinBloomFilters(spark, root, Seq("fp"))
      assert(prunes(root, col("fp") === probe)._1 >= 4,
        "repin must rebuild current-domain sidecars")
      assert(VersionedTable.readWhere(spark, root,
        col("fp") === probe).count() == 1)
    } finally rm(dir)
  }

  test("the sidecar cache evicts LEAST-RECENTLY-USED, not wholesale: " +
    "a hot dir survives eviction pressure from many cold dirs") {
    val c = BloomSkipping.newLruCache[Int](3)
    c.put("hot", 0)
    c.put("cold1", 1)
    c.put("cold2", 2)
    // keep 'hot' hot: a READ must refresh recency (access order, not
    // insertion order — the property wholesale-clear and
    // insertion-order LRU both lack)
    assert(c.get("hot") == 0)
    c.put("cold3", 3) // over cap: evicts cold1 (LRU), NOT hot
    assert(c.containsKey("hot"), "the hot entry must survive")
    assert(!c.containsKey("cold1"), "the least-recently-used evicts")
    assert(c.containsKey("cold2") && c.containsKey("cold3"))
    assert(c.size() == 3, "the cache never exceeds its cap")
    // sustained pressure: hammer many cold keys, touching hot between
    // each — hot still survives, size still bounded
    (4 to 40).foreach { i =>
      c.put(s"cold$i", i)
      assert(c.get("hot") == 0)
    }
    assert(c.size() == 3 && c.containsKey("hot"))
  }
}
