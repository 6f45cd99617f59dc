package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file min/max statistics for manifest-level FILE SKIPPING —
  * the table-format feature that makes selective scans cheap at
  * 100 TB: Spark's parquet reader prunes ROW GROUPS, but only after
  * opening every file's footer, and at 10^5..10^6 files the footer
  * round-trips ARE the query. Real formats (Delta `stats`, Iceberg
  * manifest `lower_bounds`/`upper_bounds`) therefore carry per-file
  * envelopes in the metadata layer so PLANNING shrinks the file list
  * before the engine ever touches storage. This is that layer for
  * [[VersionedTable]]:
  *
  *  - [[statsLines]]: at commit time, read back the footers of the
  *    files JUST WRITTEN (metadata-only I/O — no second pass over the
  *    data) and encode one `#file:{json}` manifest line per file with
  *    row count and per-column min/max/nullCount. Collection is
  *    best-effort: a file whose stats can't be read still gets a
  *    line (so the manifest remains a complete file listing) with
  *    whatever columns resolved.
  *  - [[mayMatch]]: the conservative evaluator — given one file's
  *    stats and a pushed-down predicate, `false` means PROVABLY no
  *    row of the file can satisfy it. Unknown columns, unsupported
  *    shapes, missing stats all return `true`; skipping is only ever
  *    an optimization, never a semantics change.
  *
  * Stats cover TOP-LEVEL primitive columns (numeric, string, bool,
  * date, timestamp). INT96 timestamps, decimals and nested fields are
  * deliberately unknown: INT96 footer stats are unordered by spec,
  * and nested-field envelopes buy little against their complexity.
  * NaN poisons float/double ordering, so an envelope containing NaN
  * is dropped. String bounds compare as UNSIGNED UTF-8 BYTES
  * (`UTF8String.compareTo`) — the same total order parquet's UTF8
  * comparator used to produce them; `java.lang.String.compareTo`
  * (UTF-16 code units) would disagree on supplementary characters.
  */
object DataSkipping {

  /** One column's envelope within one file. `min`/`max` are in the
    * column's COMPARISON DOMAIN: Long (integral/date-days/
    * timestamp-micros), Double, String, or Boolean; None = unknown. */
  case class ColStats(min: Option[Any], max: Option[Any],
      nullCount: Option[Long])

  /** One data file: `path` is `<commitDir>/<fileName>` relative to
    * `<root>/data`; `rows` < 0 means unknown. */
  case class FileStats(path: String, rows: Long,
      cols: Map[String, ColStats]) {
    def col(name: String): Option[ColStats] =
      cols.get(name).orElse {
        val lower = name.toLowerCase
        cols.collectFirst { case (k, v) if k.toLowerCase == lower => v }
      }
  }

  // ---- commit-time collection ----

  /** `#file:` manifest lines for every parquet file under `dataDir`,
    * deterministic order. Never throws: stats degrade to unknown. */
  def statsLines(spark: SparkSession, dataDir: Path,
      commitName: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = VersionedTable.fsOf(spark, dataDir)
    if (!fs.exists(dataDir)) return Seq.empty
    val paths = fs.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    // footer reads are independent metadata round-trips — read them
    // concurrently (a commit of hundreds of files would otherwise
    // serialize hundreds of storage RTTs inside the commit's critical
    // section); Future.traverse keeps the sorted path order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.traverse(paths.toSeq) { p => Future {
        // blocking{}: footer reads are disk I/O on the shared global
        // pool (also used by checkpointBoth and the bench's concurrent
        // actions) — mark them so the pool grows past numCores instead
        // of starving unrelated driver-side futures during a large
        // commit
        scala.concurrent.blocking {
          val st = scala.util.Try(footerStats(conf, p))
            .getOrElse(FileStats("", -1L, Map.empty))
          "#file:" + encode(st.copy(path = s"$commitName/${p.getName}"))
        }
      }}, Duration.Inf)
  }

  private def footerStats(conf: Configuration, file: Path): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      // accumulate per top-level primitive column across row groups;
      // a column missing usable stats in ANY block is unknown overall
      val acc = scala.collection.mutable.LinkedHashMap[String, ColStats]()
      val poisoned = scala.collection.mutable.Set[String]()
      for (b <- blocks.asScala; cc <- b.getColumns.asScala) {
        val pathArr = cc.getPath.toArray
        if (pathArr.length == 1) {
          val name = pathArr(0)
          if (!poisoned(name)) {
            chunkStats(cc.getPrimitiveType, cc.getStatistics) match {
              case None => poisoned += name; acc.remove(name)
              case Some(cs) =>
                acc(name) = acc.get(name).fold(cs)(merge(_, cs))
            }
          }
        }
      }
      FileStats("", rows, acc.toMap)
    } finally reader.close()
  }

  private def merge(a: ColStats, b: ColStats): ColStats = ColStats(
    min = for (x <- a.min; y <- b.min) yield if (cmp(x, y) <= 0) x else y,
    max = for (x <- a.max; y <- b.max) yield if (cmp(x, y) >= 0) x else y,
    nullCount = for (x <- a.nullCount; y <- b.nullCount) yield x + y)

  /** One row group's chunk → domain envelope; None = unusable. */
  private def chunkStats(
      t: PrimitiveType,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[ColStats] = {
    if (st == null) return None
    val nulls = if (st.isNumNullsSet) Some(st.getNumNulls) else None
    // no non-null values (all-null chunk, or a writer that recorded
    // no min/max): vacuous envelope, null count still usable
    if (!st.hasNonNullValue) return Some(ColStats(None, None, nulls))
    import PrimitiveType.PrimitiveTypeName._
    val logical = t.getLogicalTypeAnnotation
    def ok(v: Any, w: Any) = Some(ColStats(Some(v), Some(w), nulls))
    (t.getPrimitiveTypeName, logical) match {
      case (INT32, null) =>
        ok(st.genericGetMin.asInstanceOf[Int].toLong,
          st.genericGetMax.asInstanceOf[Int].toLong)
      case (INT32, _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
        ok(st.genericGetMin.asInstanceOf[Int].toLong,
          st.genericGetMax.asInstanceOf[Int].toLong)
      case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        ok(st.genericGetMin.asInstanceOf[Int].toLong,
          st.genericGetMax.asInstanceOf[Int].toLong)
      case (INT64, null) =>
        ok(st.genericGetMin.asInstanceOf[Long],
          st.genericGetMax.asInstanceOf[Long])
      case (INT64, _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
        ok(st.genericGetMin.asInstanceOf[Long],
          st.genericGetMax.asInstanceOf[Long])
      case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        ok(st.genericGetMin.asInstanceOf[Long],
          st.genericGetMax.asInstanceOf[Long])
      case (FLOAT, _) =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[Float].toDouble,
          st.genericGetMax.asInstanceOf[Float].toDouble)
        if (mn.isNaN || mx.isNaN) None else ok(mn, mx)
      case (DOUBLE, _) =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[Double],
          st.genericGetMax.asInstanceOf[Double])
        if (mn.isNaN || mx.isNaN) None else ok(mn, mx)
      case (BOOLEAN, _) =>
        ok(st.genericGetMin.asInstanceOf[Boolean],
          st.genericGetMax.asInstanceOf[Boolean])
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        // bound long string envelopes BEFORE they enter the manifest:
        // footer stats can carry hundreds of bytes per value (the
        // documents.text column stores 256-char bounds), which at
        // 10^5 files is tens of MB of manifest for no pruning power.
        // parquet's own BinaryTruncator produces VALID bounds — the
        // truncated min is <= the true min, the truncated max has its
        // last byte-sequence incremented UTF-8-aware so it stays >=
        // the true max — the same machinery parquet column indexes
        // use for exactly this reason.
        val trunc = org.apache.parquet.internal.column.columnindex
          .BinaryTruncator.getTruncator(t)
        ok(trunc.truncateMin(st.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary], 64)
            .toStringUsingUTF8,
          trunc.truncateMax(st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary], 64)
            .toStringUsingUTF8)
      case _ => None // INT96, decimals, raw binary, …
    }
  }

  // ---- manifest line codec ----

  private def encode(fs: FileStats): String = {
    val cols: JObject = JObject(fs.cols.toList.map { case (n, c) =>
      n -> (JObject(List(
        "min" -> c.min.map(toJ).getOrElse(JNothing),
        "max" -> c.max.map(toJ).getOrElse(JNothing),
        "nulls" -> c.nullCount.map(JLong(_): JValue).getOrElse(JNothing)
      ).filterNot(_._2 == JNothing)): JValue)
    })
    JsonMethods.compact(JsonMethods.render(JObject(
      "path" -> JString(fs.path),
      "rows" -> JLong(fs.rows),
      "cols" -> cols)))
  }

  private def toJ(v: Any): JValue = v match {
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
  }

  private def fromJ(v: JValue): Option[Any] = v match {
    case JInt(i) => Some(i.toLong)
    case JLong(l) => Some(l)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => Some(s)
    case JBool(b) => Some(b)
    case _ => None
  }

  /** Parse one `#file:` manifest line (sans prefix); None if garbled
    * (treated as an uncovered file — never an error). */
  def parseLine(json: String): Option[FileStats] =
    scala.util.Try {
      val j = JsonMethods.parse(json)
      val path = (j \ "path") match { case JString(s) => s; case _ => return None }
      val rows = (j \ "rows") match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case _ => -1L
      }
      val cols = (j \ "cols") match {
        case JObject(fields) => fields.map { case (n, c) =>
          n -> ColStats(
            fromJ(c \ "min"), fromJ(c \ "max"),
            (c \ "nulls") match {
              case JInt(i) => Some(i.toLong)
              case JLong(l) => Some(l)
              case _ => None
            })
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      FileStats(path, rows, cols)
    }.toOption

  // ---- prune-time evaluation ----

  /** Comparison in the stats domain. Caller guarantees both sides came
    * through [[domainValue]] for the same column type. */
  private[sources] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"incomparable stats domains: ${a.getClass} vs ${b.getClass}")
  }

  /** A catalyst literal value → the stats comparison domain for its
    * column's type; None = type we keep no stats for. */
  private def domainValue(value: Any, dt: DataType): Option[Any] =
    (value, dt) match {
      case (null, _) => None
      case (v: java.lang.Number, ByteType | ShortType | IntegerType |
          LongType | DateType | TimestampType | TimestampNTZType) =>
        Some(v.longValue())
      case (v: java.lang.Number, FloatType | DoubleType) =>
        Some(v.doubleValue())
      case (v: UTF8String, StringType) => Some(v.toString)
      case (v: String, StringType) => Some(v)
      case (v: java.lang.Boolean, BooleanType) => Some(v.booleanValue())
      case _ => None
    }

  /** Could any row of a file with stats `fs` satisfy `pred`?
    * Conservative three-valued collapse: unknown ⇒ true. */
  def mayMatch(fs: FileStats, pred: Expression): Boolean = {
    if (fs.rows == 0L) return false // a 0-row file satisfies nothing
    def colOf(e: Expression): Option[(ColStats, DataType)] = e match {
      case a: Attribute => fs.col(a.name).map((_, a.dataType))
      case _ => None
    }
    // any FOLDABLE side counts as the literal: the analyzed plan
    // wraps int literals compared to long columns in an uneliminated
    // Cast (`id >= CAST(120 AS BIGINT)`), and readWhere / the manual
    // rule application see exactly that shape
    def lit(e: Expression, dt: DataType): Option[Any] = e match {
      case Literal(v, _) => domainValue(v, dt)
      case _ if e.foldable =>
        scala.util.Try(e.eval(null)).toOption.flatMap(domainValue(_, dt))
      case _ => None
    }
    val allNull = (c: ColStats) =>
      fs.rows > 0 && c.nullCount.contains(fs.rows)
    def binary(l: Expression, r: Expression)
        (f: (ColStats, Any) => Boolean)
        (g: (ColStats, Any) => Boolean): Boolean =
      (colOf(l), colOf(r)) match {
        case (Some((c, dt)), None) => lit(r, dt).forall(v =>
          !allNull(c) && f(c, v))
        case (None, Some((c, dt))) => lit(l, dt).forall(v =>
          !allNull(c) && g(c, v))
        case _ => true
      }
    def inRange(c: ColStats, v: Any): Boolean =
      c.min.forall(cmp(v, _) >= 0) && c.max.forall(cmp(v, _) <= 0)
    pred match {
      case And(l, r) => mayMatch(fs, l) && mayMatch(fs, r)
      case Or(l, r) => mayMatch(fs, l) || mayMatch(fs, r)
      case EqualTo(l, r) => binary(l, r)(inRange)(inRange)
      case EqualNullSafe(l, r) => (l, r) match {
        // c <=> NULL is IsNull; otherwise same envelope as EqualTo
        case (_, Literal(null, _)) => mayMatch(fs, IsNull(l))
        case (Literal(null, _), _) => mayMatch(fs, IsNull(r))
        case _ => binary(l, r)(inRange)(inRange)
      }
      case LessThan(l, r) => // col < v | v < col
        binary(l, r)((c, v) => c.min.forall(cmp(_, v) < 0))(
          (c, v) => c.max.forall(cmp(_, v) > 0))
      case LessThanOrEqual(l, r) =>
        binary(l, r)((c, v) => c.min.forall(cmp(_, v) <= 0))(
          (c, v) => c.max.forall(cmp(_, v) >= 0))
      case GreaterThan(l, r) =>
        binary(l, r)((c, v) => c.max.forall(cmp(_, v) > 0))(
          (c, v) => c.min.forall(cmp(_, v) < 0))
      case GreaterThanOrEqual(l, r) =>
        binary(l, r)((c, v) => c.max.forall(cmp(_, v) >= 0))(
          (c, v) => c.min.forall(cmp(_, v) <= 0))
      case In(a, vs) => colOf(a) match {
        case Some((c, dt)) if !allNull(c) && vs.forall(_.foldable) =>
          vs.exists(v => lit(v, dt).forall(inRange(c, _)))
        case Some((c, _)) if allNull(c) => false
        case _ => true
      }
      case InSet(a, vs) => colOf(a) match {
        case Some((c, dt)) if !allNull(c) =>
          vs.exists(v => domainValue(v, dt).forall(inRange(c, _)))
        case Some(_) => false
        case _ => true
      }
      case IsNull(e) => colOf(e) match {
        case Some((c, _)) => c.nullCount.forall(_ > 0)
        case None => true
      }
      case IsNotNull(e) => colOf(e) match {
        case Some((c, _)) => !allNull(c)
        case None => true
      }
      case Not(EqualTo(l, r)) => // skip only a constant single-value file
        (colOf(l), colOf(r)) match {
          case (Some((c, dt)), None) => lit(r, dt).forall(v => !(
            c.nullCount.contains(0L) &&
              c.min.exists(cmp(_, v) == 0) && c.max.exists(cmp(_, v) == 0)))
          case (None, Some((c, dt))) => lit(l, dt).forall(v => !(
            c.nullCount.contains(0L) &&
              c.min.exists(cmp(_, v) == 0) && c.max.exists(cmp(_, v) == 0)))
          case _ => true
        }
      case StartsWith(a, Literal(p: UTF8String, StringType)) =>
        colOf(a) match {
          case Some((c, StringType)) if !allNull(c) =>
            val pre = p.toString
            // matches form the range [pre, successor-of-pre): a file
            // whose max < pre can't reach it, and a min that is > pre
            // WITHOUT carrying the prefix differs from pre at an
            // earlier position, so every prefix-match sorts below min
            c.max.forall(m => cmp(m, pre) >= 0) &&
              c.min.forall(m => cmp(m, pre) <= 0 ||
                m.asInstanceOf[String].startsWith(pre))
          case Some((c, _)) if allNull(c) => false
          case _ => true
        }
      case _ => true
    }
  }
}
