package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 READ connector for [[VersionedTable]] — the
  * Spark-native spelling of a snapshot read:
  *
  * {{{
  *   spark.read.format("graft-versioned")
  *     .option("versionAsOf", 1)   // omit for latest
  *     .load(tableRoot)
  * }}}
  *
  * The provider does exactly ONE thing itself: resolve the requested
  * version's manifest to its immutable commit-dir list
  * ([[VersionedTable.dataDirs]]). Everything after that is delegated
  * to Spark's own `ParquetTable`, so the scan is the stock vectorized
  * parquet scan — columnar batches, predicate pushdown, column
  * pruning, partition coalescing, AQE — with zero bespoke read code
  * to maintain (the same delegation posture production table formats
  * take: the format owns VISIBILITY, the engine owns SCANNING).
  *
  * Snapshot isolation carries over: the file list is pinned at
  * `getTable` time, so commits or vacuums of OTHER versions that land
  * after the DataFrame is built never disturb it — the exact property
  * VersionedTableSpec pins for the programmatic path.
  *
  * Registered in META-INF/services so the short name works; the
  * fully-qualified class name (`format(classOf[VersionedTableSource]
  * .getName)`) works without registration.
  */
class VersionedTableSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  // schema comes from parquet footers, not user DDL
  override def supportsExternalMetadata(): Boolean = false

  // the table root and the version `options` pin
  private def resolveVersion(spark: SparkSession,
      options: CaseInsensitiveStringMap): (String, Int) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-versioned needs a table root: .load(<root>)"))
    val version = Option(options.get("versionAsOf")).map(_.trim.toInt)
    // timestampAsOf (epoch millis, or ISO-8601 instant/local-date-time
    // read as UTC): resolved to the newest version committed at or
    // before it — Delta's timestamp time travel
    val tsVersion = Option(options.get("timestampAsOf")).map { raw =>
      val s = raw.trim
      val millis = scala.util.Try(s.toLong).getOrElse {
        scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse(
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      }
      VersionedTable.versionAt(spark, root, millis).getOrElse(
        throw new IllegalArgumentException(
          s"no version of $root committed at or before $s"))
    }
    require(version.isEmpty || tsVersion.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    (root, version.orElse(tsVersion)
      .getOrElse(VersionedTable.latestVersion(spark, root)))
  }

  private def resolved(options: CaseInsensitiveStringMap)
      : (ParquetTable, String, Int) = {
    val spark = SparkSession.active
    val (root, v) = resolveVersion(spark, options)
    // an evolved version's `#schema:` pin rides through as the user
    // schema — footer inference over mixed-schema commit dirs would
    // nondeterministically pick a pre-evolution file's column set,
    // and the connector must read identically to VersionedTable.read.
    // Non-evolved versions resolve their (uniform) schema driver-side
    // from one footer (VersionedTable.tableSchema), so a connector
    // read never pays ParquetTable's distributed inference job.
    (ParquetTable(s"graft-versioned $root", spark, options,
      VersionedTable.dataDirs(spark, root, Some(v)),
      userSpecifiedSchema = VersionedTable.tableSchema(spark, root, v),
      fallbackFileFormat = classOf[ParquetFileFormat]), root, v)
  }

  // ---- change-data-feed mode (Delta's option spelling) ----
  //
  //   spark.read.format("graft-versioned")
  //     .option("readChangeFeed", "true")
  //     .option("startingVersion", 1)     // inclusive, required
  //     .option("endingVersion", 3)       // inclusive, default latest
  //     .option("key", "doc_id")          // optional: pre/post images
  //     .load(tableRoot)
  //
  // resolves to [[VersionedTable.changeFeed]] — per-version deltas in
  // commit order, each row tagged `change_kind` + `_commit_version`.
  // Served through the public V1Scan bridge: the feed's general path
  // is a full plan (a content diff is a shuffle, not a file list), so
  // the connector hands Spark the computed RDD rather than pretending
  // the feed is scannable files. Append-only ranges still resolve
  // through changesBetween's O(delta) fast path inside that plan.

  private def cdfRequested(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.trim.toBoolean)

  private def cdfFeed(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.DataFrame = {
    val spark = SparkSession.active
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-versioned needs a table root: .load(<root>)"))
    val start = Option(options.get("startingVersion")).map(_.trim.toInt)
      .getOrElse(throw new IllegalArgumentException(
        "readChangeFeed needs option startingVersion (first commit " +
          "version to include; 0 replays the initial snapshot)"))
    val end = Option(options.get("endingVersion")).map(_.trim.toInt)
    val key = Option(options.get("key")).map(_.trim).filter(_.nonEmpty)
    VersionedTable.changeFeed(spark, root, start, end, key)
  }

  // the manifest lookups alone when the schema resolves driver-side
  // (nullable, as the file table reports it): forcing a ParquetTable's
  // schema would list every commit dir, and getTable builds the table
  // anyway
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (cdfRequested(options)) cdfFeed(options).schema
    else {
      val spark = SparkSession.active
      val (root, v) = resolveVersion(spark, options)
      VersionedTable.tableSchema(spark, root, v)
        .map(VersionedTable.forceNullable(_).asInstanceOf[StructType])
        .getOrElse(resolved(options)._1.schema)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    if (cdfRequested(options)) {
      val df = cdfFeed(options)
      new ChangeFeedTable(
        s"graft-versioned-cdf ${options.get("path")}", df)
    } else {
      val (pt, root, v) = resolved(options)
      new SnapshotStatsTable(pt, root, v)
    }
  }
}

/** The snapshot table the path connector serves: Spark's own
  * [[ParquetTable]] does the scanning, with the scan wrapped in the
  * SAME [[org.apache.spark.sql.graft.DirAwareScanBuilder]] the
  * catalog uses — so a path read prunes files by the PINNED
  * version's manifest stats and reports its statistics (exact row
  * count, column envelopes, NDV), and the two read surfaces can
  * never drift on pruning or optimizer input. Read
  * capability only: writes through a path would bypass the manifest
  * commit point (use VersionedTable / the catalog), and streaming
  * has its own source ("graft-versioned-stream") — the wrapped scan
  * refuses `toMicroBatchStream` loudly instead of serving a frozen
  * file list as a fake stream. */
private[graft] class SnapshotStatsTable(inner: ParquetTable,
    root: String, version: Int)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = inner.name
  override def schema(): StructType = inner.schema
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): JMap[String, String] = inner.properties()

  override def capabilities(): java.util.Set[
    org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    SnapshotStatsTable.scanBuilder(SparkSession.active, root, version,
      inner, options)
}

private[sources] object SnapshotStatsTable {

  /** The scan builder of a pinned snapshot `table` (the version's
    * whole-manifest `ParquetTable`), shared by the path connector and
    * the catalog: it prunes files with [[VersionedTable.classifyFiles]]
    * under the pushed filters and scans the surviving references
    * through a copy of `table`. */
  def scanBuilder(spark: SparkSession, root: String, version: Int,
      table: ParquetTable, options: CaseInsensitiveStringMap,
      streamable: Boolean = false,
      bucketed: Option[org.apache.spark.sql.graft.BucketLayout] = None)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.graft.DirAwareScanBuilder(spark, root,
      version, table.schema,
      VersionedTable.readManifest(spark, root, version),
      table.newScanBuilder(options),
      VersionedTable.classifyFiles(spark, root, version, _),
      refs => table.copy(paths = VersionedTable.dataPaths(root, refs),
        userSpecifiedSchema = Some(table.schema))
        .newScanBuilder(options),
      options, streamable, bucketed)
}

/** A computed DataFrame served through the connector seam via the
  * public [[org.apache.spark.sql.connector.read.V1Scan]] bridge —
  * the scan IS the feed's distributed plan (`df.rdd`), not a file
  * listing. Used for the change-data-feed read mode, whose general
  * path (a rewrite inside the range) is a content-diff plan no file
  * scan can express. */
private[sources] class ChangeFeedTable(tname: String,
    df: org.apache.spark.sql.DataFrame)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = tname
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[
    org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.Collections.singleton(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = df.schema
          override def description(): String = tname
          override def toV1TableScan[T <: org.apache.spark.sql.sources
              .BaseRelation with org.apache.spark.sql.sources.TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
              override def sqlContext = context
              override def schema: StructType = df.schema
              override def buildScan()
                  : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                df.rdd
            }.asInstanceOf[T]
        }
    }
}
