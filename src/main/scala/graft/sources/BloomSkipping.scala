package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, input_file_name, unix_date,
  unix_micros}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Per-file BLOOM FILTERS for equality file skipping — the pruning
  * power min/max envelopes structurally cannot have. An envelope
  * prunes when values are CLUSTERED (ids appended in ranges, sorted
  * buckets, z-ordered layouts); a high-cardinality UNCLUSTERED column —
  * content hash, UUID, user id on time-partitioned data — spans
  * nearly the full domain in every file, so every file "may match"
  * every point lookup and the needle-in-a-100 TB-haystack query scans
  * the haystack. A bloom filter answers the opposite question —
  * "is this VALUE in this file?" — at ~1.2 bytes/row for 1% false
  * positives, so the same lookup opens ~1 file (Delta's bloom index,
  * Iceberg puffin blobs; re-derived here at commit-dir granularity).
  *
  *  - Pin: `#bloomcols:c1,c2` (via [[VersionedTable
  *    .enableBloomFilters]]). EXPLICIT columns only, no `*` — blooms
  *    cost real bytes per row; pinning every column would tax each
  *    commit for lookups nobody runs.
  *  - Build: ONE columnar pass over the data JUST WRITTEN per commit
  *    (O(delta), pinned columns only), per-file filters sized from the
  *    file's footer row count at `fpp` 1%. Enable-time backfill pays
  *    the same pass per existing dir once.
  *  - Storage: a `_bloom.bin` SIDECAR inside the commit dir — not
  *    manifest lines: a 1M-row file costs ~1.2 MB of filter per
  *    column, which would bloat every manifest read; the sidecar
  *    costs one driver read per dir at plan time, cached, and only
  *    when an equality predicate touches a pinned column. Underscore
  *    naming keeps it invisible to every parquet scan. Because it
  *    lives IN the dir, rewrites carry it by identity with the dir
  *    and vacuum drops it with the dir — zero extra bookkeeping.
  *  - Prune: [[mayMatch]] handles `=`, `<=>`, IN/INSET (and AND/OR
  *    recursion), the shapes where absence is provable; everything
  *    else passes. A dir or file without coverage passes whole —
  *    absent beats wrong, like every stats layer here.
  *
  * Domain contract (build side == probe side, or the filter lies):
  * integral/date/timestamp probe as LONG (date = epoch days,
  * timestamp = epoch micros — [[NdvStats.sketchInput]]'s discipline),
  * strings as UTF-8, binary as bytes. Fractional/decimal/boolean are
  * NOT bloomed: float equality is a data smell and booleans prune
  * better by envelope. */
object BloomSkipping {

  val PinPrefix = "#bloomcols:" // explicit comma-joined column list
  val SidecarName = "_bloom.bin"
  val Fpp = 0.01
  private val Magic = 0x47424c4d // "GBLM"
  private val Version = 2 // container layout (v1→v2: +domain header)

  /** The PROBE-DOMAIN version stamped into every sidecar header and
    * required back at read time — the same discipline as
    * [[NdvStats.DomainVersion]]: [[bloomInput]]'s type→bytes mapping
    * (integral→long, date→epoch days, timestamp→epoch micros,
    * string/binary→bytes) is an on-disk contract, and a filter built
    * under an old mapping probed under a new one would FALSELY prove
    * absence — the one lie a skipping layer must never tell. A
    * mismatched sidecar reads as NO COVERAGE (conservative full
    * scan, mechanically enforced in the header check);
    * `VersionedTable.repinBloomFilters` is the rebuild spelling. */
  val ProbeDomainVersion = 1
  /** Capacity when a file's footer row count is unknown. */
  private[sources] val DefaultCapacity = 100000L

  /** The pinned column set: None = blooms off. Never `Some(empty)` —
    * the pin refuses `*` at enable time. */
  def pinnedCols(lines: Seq[String]): Option[Seq[String]] =
    lines.find(_.startsWith(PinPrefix)).map(
      _.stripPrefix(PinPrefix).split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq)

  /** The bloomable projection of a column, in the probe domain;
    * None = type we keep no bloom for. */
  private[sources] def bloomInput(f: StructField)
      : Option[org.apache.spark.sql.Column] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(col(f.name).cast(LongType))
    case DateType => Some(unix_date(col(f.name)).cast(LongType))
    case TimestampType => Some(unix_micros(col(f.name)))
    case StringType | BinaryType => Some(col(f.name))
    case _ => None
  }

  def eligibleCols(schema: StructType, pin: Seq[String]): Seq[StructField] = {
    val wanted = pin.map(_.toLowerCase).toSet
    schema.fields.toSeq
      .filter(f => wanted.contains(f.name.toLowerCase))
      .filter(f => bloomInput(f).isDefined)
  }

  // ---- build -------------------------------------------------------

  /** Build (overwrite) the sidecar for one commit dir: one pass over
    * its files reading ONLY the pinned columns, one bloom per
    * (file, column) sized from `rowsByFile` (footer counts; absent →
    * [[DefaultCapacity]]). Partitions of the same file merge —
    * filters created with identical (capacity, fpp) are
    * merge-compatible by construction. No-op when nothing is
    * eligible. Throws on I/O failure; callers on the commit path wrap
    * best-effort (a missing sidecar only costs pruning). */
  def buildSidecar(spark: SparkSession, dirPath: Path, pin: Seq[String],
      rowsByFile: Map[String, Long]): Unit = {
    val df = spark.read.parquet(dirPath.toString)
    val cols = eligibleCols(df.schema, pin)
    if (cols.isEmpty) return
    val projected = df.select(
      input_file_name().as("__f") +: cols.map(f => bloomInput(f).get): _*)
    val types = projected.schema.fields.drop(1).map(_.dataType)
    val n = cols.size
    val capacities = rowsByFile.map { case (f, r) =>
      f -> math.max(1L, if (r >= 0) r else DefaultCapacity) }
    val partial: Array[(String, Array[Array[Byte]])] =
      projected.queryExecution.toRdd.mapPartitions { it =>
        val m = scala.collection.mutable.HashMap
          .empty[String, Array[BloomFilter]]
        it.foreach { row =>
          val file = {
            val p = row.getUTF8String(0).toString
            p.substring(p.lastIndexOf('/') + 1)
          }
          val bfs = m.getOrElseUpdate(file, {
            val cap = capacities.getOrElse(file, DefaultCapacity)
            Array.fill(n)(BloomFilter.create(cap, Fpp))
          })
          var i = 0
          while (i < n) {
            if (!row.isNullAt(i + 1)) types(i) match {
              case LongType => bfs(i).putLong(row.getLong(i + 1))
              case StringType =>
                bfs(i).putBinary(row.getUTF8String(i + 1).getBytes)
              case BinaryType => bfs(i).putBinary(row.getBinary(i + 1))
              case other => throw new IllegalStateException(
                s"unexpected bloom domain $other")
            }
            i += 1
          }
        }
        m.iterator.map { case (f, bfs) => (f, bfs.map(ser)) }
      }.collect()
    val merged: Map[String, Array[BloomFilter]] =
      partial.groupBy(_._1).map { case (f, parts) =>
        val acc = parts.head._2.map(de)
        parts.tail.foreach { case (_, bs) =>
          var i = 0
          while (i < n) { acc(i).mergeInPlace(de(bs(i))); i += 1 }
        }
        f -> acc
      }
    writeSidecar(spark, dirPath, cols.map(_.name), merged)
    // a fresh sidecar invalidates any cached absence/content for the dir
    cache.remove(dirPath.toString): Unit
  }

  private[sources] def ser(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
  private[sources] def de(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** Publish a finished per-file filter map as the dir's sidecar and
    * drop any cached content for it — the shared back half of
    * [[buildSidecar]] and the fused one-pass commit path
    * ([[CommitStats.onePass]]). */
  private[sources] def publishSidecar(spark: SparkSession, dirPath: Path,
      colNames: Seq[String], byFile: Map[String, Array[BloomFilter]])
      : Unit = {
    writeSidecar(spark, dirPath, colNames, byFile)
    cache.remove(dirPath.toString): Unit
  }

  private def writeSidecar(spark: SparkSession, dirPath: Path,
      colNames: Seq[String], byFile: Map[String, Array[BloomFilter]])
      : Unit = {
    val fs = VersionedTable.fsOf(spark, dirPath)
    val tmp = new Path(dirPath,
      s".$SidecarName.tmp-${java.util.UUID.randomUUID}")
    val out = new DataOutputStream(fs.create(tmp, true))
    try {
      out.writeInt(Magic)
      out.writeInt(Version)
      out.writeInt(ProbeDomainVersion)
      out.writeInt(colNames.size)
      colNames.foreach(out.writeUTF)
      out.writeInt(byFile.size)
      byFile.toSeq.sortBy(_._1).foreach { case (f, bfs) =>
        out.writeUTF(f)
        bfs.foreach { bf =>
          val bytes = ser(bf)
          out.writeInt(bytes.length)
          out.write(bytes)
        }
      }
    } finally out.close()
    val target = new Path(dirPath, SidecarName)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      sys.error(s"could not publish $target")
    }
  }

  // ---- read + prune ------------------------------------------------

  /** (dirPath, colName-lower → per-file filter map) cache; commit
    * dirs are immutable, and [[buildSidecar]] (the only writer)
    * invalidates its dir. None = no/unreadable sidecar. BOUNDED and
    * LRU: filters are megabytes per big dir, and a long-lived driver
    * (Thrift server, streaming) scanning many tables would otherwise
    * grow the heap monotonically — past the cap the LEAST RECENTLY
    * USED entry evicts, so a driver hovering at the cap keeps its hot
    * tables' sidecars instead of re-reading every one each scan (the
    * wholesale-clear alternative's failure mode). Entries are pure
    * reads of immutable files — an eviction costs one small re-read,
    * never correctness. */
  private val MaxCachedDirs = 512
  private type CacheVal = Option[Map[String, Map[String, BloomFilter]]]

  /** ACCESS-ordered bounded map: reads refresh recency, inserts past
    * `cap` evict the least recently used entry. Factored out so the
    * eviction policy itself is spec-testable at a small cap (the
    * production cap would need 512 real sidecar dirs to exercise). */
  private[sources] def newLruCache[V](cap: Int): java.util.Map[String, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, V]): Boolean = size() > cap
      })

  private val cache = newLruCache[CacheVal](MaxCachedDirs)

  /** Drop cached sidecars under `root` (disable/vacuum hygiene). */
  private[sources] def invalidateUnder(root: String): Unit =
    cache.synchronized {
      cache.keySet.removeIf(_.startsWith(root)): Unit
    }

  /** file-name → (colName-lower → filter) for one commit dir; None
    * when the dir has no (readable) sidecar. Driver-side, one small
    * file read, cached. */
  def bloomsForDir(spark: SparkSession, dirPath: Path)
      : Option[Map[String, Map[String, BloomFilter]]] = {
    val key = dirPath.toString
    val hit = cache.get(key) // records the access for LRU order
    if (hit != null) return hit
    // compute OUTSIDE the lock (a slow filesystem read must not block
    // every other table's lookups); a racing duplicate read of the
    // same immutable file is harmless
    val computed: CacheVal = {
      scala.util.Try {
        val fs = VersionedTable.fsOf(spark, dirPath)
        val p = new Path(dirPath, SidecarName)
        if (!fs.exists(p)) None
        else {
          val in = new DataInputStream(fs.open(p))
          try {
            // any header mismatch (foreign file, old PROBE DOMAIN)
            // reads as no-coverage — a conservative full scan, never
            // a filter that could falsely prove absence under a
            // different byte mapping. A v1 container (written before
            // the domain header existed) was BUILT under domain 1, so
            // it stays readable as long as domain 1 is current —
            // upgrading must not silently zero the pruning on every
            // pre-existing table.
            require(in.readInt() == Magic)
            val ver = in.readInt()
            val domain = ver match {
              case 1 => 1
              case v if v == Version => in.readInt()
              case _ => -1
            }
            require(domain == ProbeDomainVersion)
            val nCols = in.readInt()
            val names = (0 until nCols).map(_ => in.readUTF().toLowerCase)
            val nFiles = in.readInt()
            Some((0 until nFiles).map { _ =>
              val f = in.readUTF()
              val bfs = names.map { nm =>
                val len = in.readInt()
                val b = new Array[Byte](len)
                in.readFully(b)
                nm -> de(b)
              }.toMap
              f -> bfs
            }.toMap)
          } finally in.close()
        }
      }.toOption.flatten
    }
    cache.put(key, computed)
    computed
  }

  /** ONE file's may-match decision under `pred` — the sidecar lookup
    * plus [[mayMatch]], called only by
    * [[VersionedTable.classifyFiles]], so every read and rewrite
    * prunes alike. `filePath` is `<dir>/<file>` (manifest-stat
    * form); conservative on any missing coverage. */
  def fileMayMatch(spark: SparkSession, dataRoot: Path, dir: String,
      filePath: String, pred: Expression): Boolean = {
    val fileName = filePath.substring(filePath.lastIndexOf('/') + 1)
    bloomsForDir(spark, new Path(dataRoot, dir))
      .flatMap(_.get(fileName)) match {
      case Some(blooms) => mayMatch(blooms, pred)
      case None => true // uncovered file: conservatively scanned
    }
  }

  /** Does `pred` reference any pinned column in a bloomable
    * (equality) position? The cheap guard that keeps sidecar reads
    * off plans that can't use them. */
  def relevant(pred: Expression, pin: Seq[String]): Boolean = {
    val pinned = pin.map(_.toLowerCase).toSet
    def attr(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name.toLowerCase)
      case _ => None
    }
    pred match {
      case And(l, r) => relevant(l, pin) || relevant(r, pin)
      case Or(l, r) => relevant(l, pin) || relevant(r, pin)
      case EqualTo(l, r) =>
        attr(l).orElse(attr(r)).exists(pinned)
      case EqualNullSafe(l, r) =>
        attr(l).orElse(attr(r)).exists(pinned)
      case In(a, _) => attr(a).exists(pinned)
      case InSet(a, _) => attr(a).exists(pinned)
      case _ => false
    }
  }

  /** The probe domain of a literal for a column type — mirrors
    * [[bloomInput]]; None = not bloomable (conservative pass).
    * Public because the runtime-filtering scan converts DSv2 literal
    * values through the same mapping. */
  def probeValue(value: Any, dt: DataType): Option[Any] =
    (value, dt) match {
      case (null, _) => None
      case (v: java.lang.Number, ByteType | ShortType | IntegerType |
          LongType | DateType | TimestampType) => Some(v.longValue())
      case (v: UTF8String, StringType) => Some(v.getBytes)
      case (v: String, StringType) =>
        Some(UTF8String.fromString(v).getBytes)
      case (v: Array[Byte], BinaryType) => Some(v)
      case _ => None
    }

  /** Membership probe in the build domain; unknown domains pass. */
  def mightContain(bf: BloomFilter, v: Any): Boolean = v match {
    case l: Long => bf.mightContainLong(l)
    case b: Array[Byte] => bf.mightContainBinary(b)
    case _ => true
  }
  private def contains(bf: BloomFilter, v: Any): Boolean =
    mightContain(bf, v)

  /** Could any row of a file with blooms `blooms` satisfy `pred`?
    * Conservative: unknown shapes/columns/values ⇒ true. Sound
    * because `col = v`, `col <=> v` (v non-null) and `col IN (...)`
    * can only be satisfied by a row whose value was PUT into the
    * filter — blooms have no false negatives. */
  def mayMatch(blooms: Map[String, BloomFilter], pred: Expression)
      : Boolean = {
    def probe(a: Expression, lit: Expression): Boolean = a match {
      case attr: Attribute => blooms.get(attr.name.toLowerCase) match {
        case Some(bf) =>
          val v = lit match {
            case Literal(x, _) => probeValue(x, attr.dataType)
            case e if e.foldable => scala.util.Try(e.eval(null)).toOption
              .flatMap(probeValue(_, attr.dataType))
            case _ => None
          }
          v.forall(contains(bf, _))
        case None => true
      }
      case _ => true
    }
    def side(l: Expression, r: Expression): Boolean =
      (l, r) match {
        case (a: Attribute, b) if b.foldable => probe(a, b)
        case (b, a: Attribute) if b.foldable => probe(a, b)
        case _ => true
      }
    pred match {
      case And(l, r) => mayMatch(blooms, l) && mayMatch(blooms, r)
      case Or(l, r) => mayMatch(blooms, l) || mayMatch(blooms, r)
      case EqualTo(l, r) => side(l, r)
      case EqualNullSafe(l, r) => (l, r) match {
        case (_, Literal(null, _)) | (Literal(null, _), _) => true
        case _ => side(l, r)
      }
      case In(a: Attribute, vs) if vs.forall(_.foldable) =>
        vs.exists(v => probe(a, v))
      case InSet(a: Attribute, vs) => blooms.get(a.name.toLowerCase) match {
        case Some(bf) =>
          vs.exists(v => probeValue(v, a.dataType).forall(contains(bf, _)))
        case None => true
      }
      case _ => true
    }
  }
}
