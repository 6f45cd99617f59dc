package graftbench

import java.util.Random

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The tables phase: one `VersionedTable` registered in a
  * `GraftCatalog`, driven by a seeded mix of about 40 % writes and
  * 60 % reads, with `compactSmall` + `vacuum` every few commits.
  *
  * The phase keeps its own model of the table (live ids and each id's
  * row) per version; every read's count and checksum and every
  * commit's returned version are checked against it. */
final class TablesPhase(ctx: Ctx, sz: Sizes.Tables) {
  import TablesPhase._
  import ctx.spark

  private var root: String = _
  private var table: String = _
  private var version = 0
  private var live: TreeMap[Long, Rec] = TreeMap.empty
  private val history = scala.collection.mutable.Map[Int, TreeMap[Long, Rec]]()
  private var nextId = 0L
  private var sinceMaint = 0
  private var rng: Random = _
  private var vocab: Corpus.Vocab = _
  /** True between blocks, when every class has run its full share. */
  def atBlockBoundary: Boolean = block.isEmpty

  /** Input preparation: generate the initial documents and init the
    * table at version 0 under the catalog's warehouse. */
  def prepare(rep: Int): Unit = {
    val g = Corpus.generate(ctx.seed + 7L, sz.rows, plantedPermille = 0)
    val name = s"docs_$rep"
    root = s"${ctx.work}/warehouse/bench/$name"
    table = s"graft.bench.$name"
    val df = spark.createDataFrame(g.docs).repartition(InitFiles)
    val v = VersionedTable.init(spark, root, df)
    ctx.check("tables.init_version", v == 0, s"init returned $v")
    version = 0
    live = TreeMap(g.docs.map(d => d.doc_id -> Rec(d.lang, srcNo(d.source), d.n_chars, d.text)): _*)
    history.clear()
    history(0) = live
    nextId = g.docs.size.toLong
    rng = new Random(ctx.seed * 7L + 3L)
    vocab = new Corpus.Vocab(4000, new Random(ctx.seed + 11L))
  }

  private var block: List[String] = Nil

  /** One operation of the seeded mix. Operations come in blocks of
    * [[Block]] (8 writes, 12 reads) shuffled by the seed, so every seed
    * runs the same proportions in a different order. */
  def step(timed: Boolean): Unit = {
    if (block.isEmpty) {
      val b = new java.util.ArrayList[String](java.util.Arrays.asList(Block: _*))
      java.util.Collections.shuffle(b, rng)
      block = b.toArray(Array.empty[String]).toList
    }
    val cls = block.head
    block = block.tail
    cls match {
      case "append" => append(timed)
      case "merge" => merge(timed)
      case "sql_merge" => sqlMerge(timed)
      case "update" => update(timed)
      case "delete" => delete(timed)
      case "point_read" => pointRead(timed)
      case "sql_count" => sqlCount(timed)
      case "scan_agg" => scanAgg(timed)
      case "time_travel" => timeTravel(timed)
      case "changes" => changes(timed)
      case "sql_median" => sqlMedian(timed)
    }
    if (Writes(cls)) {
      sinceMaint += 1
      if (sinceMaint >= MaintenanceEvery) { maintenance(timed); sinceMaint = 0 }
    }
  }

  // ---- model helpers ----

  private def srcNo(s: String): Int = s.drop(3).toInt
  private def checksum(m: Iterable[(Long, Rec)]): Long =
    m.iterator.map { case (id, r) => id * 131L + r.src }.sum
  private val checksumCol: Column =
    sum(col("doc_id") * 131L + substring(col("source"), 4, 10).cast("long"))

  private def countAndSum(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), coalesce(checksumCol, lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  private def liveIds: IndexedSeq[Long] = live.keysIterator.toIndexedSeq

  /** An id biased towards recent ones (the newest tenth, 70 % of the
    * time). */
  private def pickId(): Long = {
    val ids = liveIds
    val n = ids.size
    if (rng.nextInt(100) < 70) ids(n - 1 - rng.nextInt(math.max(1, n / 10)))
    else ids(rng.nextInt(n))
  }

  private def commitDone(cls: String, got: Option[Int], next: TreeMap[Long, Rec]): Unit =
    got.foreach { v =>
      ctx.check(s"tables.$cls.next_version", v == version + 1,
        s"$cls returned version $v after ${version}")
      version = v
      live = next
      history(v) = next
      history.keys.filter(_ < v - KeepVersions).toSeq.foreach(history.remove)
    }

  private def op[T](cls: String, kind: String, timed: Boolean, rows: Long)(body: => T): Option[T] = {
    val files0 = if (ctx.traced) dataFiles else 0L
    val r = ctx.op("graft.sources", cls, kind, Map("timed" -> timed, "rows" -> rows))(body)
    if (ctx.traced) ctx.annotateLast(Map("files_written" -> math.max(0L, dataFiles - files0)))
    r
  }

  /** Data files under the table root (traced run, outside the timed op);
    * their growth across a commit is the files it wrote, net of any
    * vacuum in the same op. */
  private def dataFiles: Long = {
    val p = new org.apache.hadoop.fs.Path(root)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  private def freshDocs(n: Int): Seq[Doc] =
    (0 until n).map { _ => val d = Corpus.fresh(nextId, rng, vocab); nextId += 1; d }

  /** Delete/update width that keeps live rows near the initial size. */
  private def shrinkWidth: Int =
    math.max(5, math.min(150, live.size - sz.rows + 60))

  // ---- writes ----

  private def append(timed: Boolean): Unit = {
    val docs = freshDocs(AppendRows)
    val df = spark.createDataFrame(docs)
    val next = live ++ docs.map(d => d.doc_id -> Rec(d.lang, srcNo(d.source), d.n_chars, d.text))
    commitDone("append", op("append", "commit", timed, docs.size) {
      VersionedTable.append(spark, root, df, expectedVersion = version)
    }, next)
  }

  private def merge(timed: Boolean): Unit = {
    val ids = liveIds
    val touched = (0 until 20).map(_ => ids(rng.nextInt(ids.size))).distinct
    val (upd, del) = touched.splitAt(touched.size / 2)
    val src = rng.nextInt(Corpus.Sources)
    val ins = freshDocs(10)
    val cur = live
    val changes = upd.map { id => val r = cur(id)
        (id, r.text, r.lang, s"src$src", r.nChars, "U") } ++
      del.map(id => (id, "", "", "", 0L, "D")) ++
      ins.map(d => (d.doc_id, d.text, d.lang, d.source, d.n_chars, "U"))
    val cs = spark.createDataFrame(changes)
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val next = cur -- del ++ upd.map(id => id -> cur(id).copy(src = src)) ++
      ins.map(d => d.doc_id -> Rec(d.lang, srcNo(d.source), d.n_chars, d.text))
    commitDone("merge", op("merge", "commit", timed, changes.size) {
      VersionedTable.merge(spark, root, cs, "doc_id", "op")
    }, next)
  }

  private def sqlMerge(timed: Boolean): Unit = {
    val ids = liveIds
    val upd = (0 until 5).map(_ => ids(rng.nextInt(ids.size))).distinct
    val src = rng.nextInt(Corpus.Sources)
    val ins = freshDocs(5)
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val values = (upd.map(id => s"($id, '', '', 'src$src', 0)") ++
      ins.map(d => s"(${d.doc_id}, ${q(d.text)}, '${d.lang}', '${d.source}', ${d.n_chars})"))
      .mkString(", ")
    val sql = s"""MERGE INTO $table t
      |USING (SELECT * FROM VALUES $values AS src(doc_id, text, lang, source, n_chars)) s
      |ON t.doc_id = s.doc_id
      |WHEN MATCHED THEN UPDATE SET t.source = s.source
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val cur = live
    val next = cur ++ upd.map(id => id -> cur(id).copy(src = src)) ++
      ins.map(d => d.doc_id -> Rec(d.lang, srcNo(d.source), d.n_chars, d.text))
    val got = op("sql_merge", "commit", timed, upd.size + ins.size) {
      spark.sql(sql)
      ()
    }
    commitDone("sql_merge", got.map(_ => VersionedTable.latestVersion(spark, root)), next)
  }

  /** A narrow id range [lo, hi] over live ids, `w` live ids wide. */
  private def liveRange(w: Int): (Long, Long) = {
    val ids = liveIds
    val start = if (rng.nextBoolean()) math.max(0, ids.size - 10 * w - 1 - rng.nextInt(10 * w))
      else rng.nextInt(math.max(1, ids.size - w))
    val lo = ids(math.min(start, ids.size - 1))
    val hi = ids(math.min(start + w - 1, ids.size - 1))
    (lo, hi)
  }

  private def update(timed: Boolean): Unit = {
    val (lo, hi) = liveRange(10)
    val src = rng.nextInt(Corpus.Sources)
    val cur = live
    val hit = cur.range(lo, hi + 1)
    val next = cur ++ hit.map { case (id, r) => id -> r.copy(src = src) }
    commitDone("update", op("update", "commit", timed, hit.size) {
      VersionedTable.update(spark, root, col("doc_id").between(lo, hi),
        Seq("source" -> lit(s"src$src")))
    }, next)
  }

  private def delete(timed: Boolean): Unit = {
    val (lo, hi) = liveRange(shrinkWidth)
    val cur = live
    val hit = cur.range(lo, hi + 1)
    commitDone("delete", op("delete", "commit", timed, hit.size) {
      VersionedTable.delete(spark, root, col("doc_id").between(lo, hi))
    }, cur -- hit.keys)
  }

  private def maintenance(timed: Boolean): Unit = {
    val got = op("maintenance", "commit", timed, 0L) {
      val v = VersionedTable.compactSmall(spark, root, SmallDirRows)
      VersionedTable.vacuum(spark, root, keepVersions = KeepVersions, retainMillis = 0L)
      v
    }
    // compactSmall is a no-op (same version) when fewer than two small
    // dirs exist; otherwise it commits the next version
    got.foreach { v =>
      ctx.check("tables.maintenance.version", v == version || v == version + 1,
        s"maintenance returned $v after $version")
      if (v == version + 1) { version = v; history(v) = live }
    }
  }

  // ---- reads ----

  private def expect(cls: String, got: Option[(Long, Long)], m: Iterable[(Long, Rec)]): Unit =
    got.foreach { g =>
      val want = (m.size.toLong, checksum(m))
      ctx.check(s"tables.$cls.matches_model", g == want, s"got $g, model $want")
    }

  private def pointRead(timed: Boolean): Unit = {
    val id = pickId()
    val (lo, hi) = if (rng.nextBoolean()) (id, id) else (id, id + 50)
    expect("point_read", op("point_read", "read", timed, 0L) {
      countAndSum(VersionedTable.readWhere(spark, root, col("doc_id").between(lo, hi)))
    }, live.range(lo, hi + 1))
  }

  private def sqlCount(timed: Boolean): Unit = {
    op("sql_count", "read", timed, 0L) {
      spark.sql(s"SELECT count(*) FROM $table").head().getLong(0)
    }.foreach(n => ctx.check("tables.sql_count.matches_model", n == live.size,
      s"got $n, model ${live.size}"))
  }

  private def scanAgg(timed: Boolean): Unit =
    expect("scan_agg", op("scan_agg", "read", timed, 0L) {
      countAndSum(VersionedTable.read(spark, root))
    }, live)

  private def timeTravel(timed: Boolean): Unit = {
    val back = 1 + rng.nextInt(math.min(KeepVersions - 1, math.max(1, version)))
    val v = math.max(0, version - back)
    history.get(v) match {
      case Some(m) => expect("time_travel", op("time_travel", "read", timed, 0L) {
          countAndSum(VersionedTable.read(spark, root, Some(v)))
        }, m)
      case None => scanAgg(timed)
    }
  }

  private def changes(timed: Boolean): Unit = {
    if (version < 1 || !history.contains(version - 1)) { scanAgg(timed); return }
    val (a, b) = (history(version - 1), history(version))
    val ins = b.filter { case (id, r) => !a.get(id).contains(r) }
    val del = a.filter { case (id, r) => !b.get(id).contains(r) }
    val v = version
    op("changes", "read", timed, 0L) {
      val df = VersionedTable.changesBetween(spark, root, v - 1, v)
      def kind(k: String) = countAndSum(df.filter(col("change_kind") === k))
      (kind("insert"), kind("delete"))
    }.foreach { case (gi, gd) =>
      val want = ((ins.size.toLong, checksum(ins)), (del.size.toLong, checksum(del)))
      ctx.check("tables.changes.matches_model", (gi, gd) == want,
        s"got ${(gi, gd)}, model $want")
    }
  }

  private def sqlMedian(timed: Boolean): Unit = {
    val sql = s"""SELECT lang, n_chars AS median, n FROM (
      |  SELECT lang, n_chars, cnt,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
      |    sum(cnt) OVER (PARTITION BY lang) AS n
      |  FROM (SELECT lang, n_chars, count(1) AS cnt FROM $table GROUP BY lang, n_chars))
      |WHERE cum - cnt < (n + 1) div 2 AND (n + 1) div 2 <= cum""".stripMargin
    op("sql_median", "read", timed, 0L) {
      spark.sql(sql).collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    }.foreach { got =>
      val want = live.values.groupBy(_.lang).map { case (l, rs) =>
        val s = rs.map(_.nChars).toIndexedSeq.sorted
        l -> (s((s.size + 1) / 2 - 1), s.size.toLong)
      }
      ctx.check("tables.sql_median.matches_model", got == want, s"got $got, model $want")
    }
  }

  // ---- end-of-run table layer (traced run) ----

  def tableLayer(): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(hconf)
    val snap = VersionedTable.read(spark, root)
    ctx.values("sources.table.files_live") = snap.inputFiles.length.toLong
    val plain = s"${ctx.work}/plain_snapshot"
    snap.write.mode("overwrite").parquet(plain)
    val plainBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(plain)).getLength
    val rootBytes = fs.getContentSummary(p).getLength
    ctx.values("sources.table.space_amp") = rootBytes.toDouble / math.max(1L, plainBytes)
  }
}

object TablesPhase {
  final case class Rec(lang: String, src: Int, nChars: Long, text: String)
  val Block: Seq[String] = Seq("append", "append", "append", "merge", "merge",
    "sql_merge", "update", "delete",
    "point_read", "point_read", "point_read", "point_read", "sql_count",
    "sql_count", "scan_agg", "scan_agg", "time_travel", "time_travel",
    "changes", "sql_median")
  val Writes = Set("append", "merge", "sql_merge", "update", "delete")
  val InitFiles = 4
  val AppendRows = 25
  val MaintenanceEvery = 8
  val KeepVersions = 4
  val SmallDirRows = 1000L
}
