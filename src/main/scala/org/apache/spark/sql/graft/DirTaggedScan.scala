package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `_commit_dir` metadata column: every row of a versioned-table
  * scan can carry the name of the immutable commit dir that holds it —
  * user-facing provenance (`SELECT *, _commit_dir FROM graft.t`) and,
  * more importantly, the GROUP IDENTITY that Spark's runtime
  * row-level-operation group filtering keys on (`_file` in Iceberg's
  * implementation of the same mechanism; a whole commit dir is this
  * format's rewrite unit, so the dir name is the right granularity).
  */
object DirTag {
  val ColName = "_commit_dir"

  val field: StructField = StructField(ColName, StringType, nullable = false)

  def ref: NamedReference = Expressions.column(ColName)

  /** `_commit_version`: the numeric sibling of `_commit_dir` — the
    * manifest version that committed the row's dir, parsed from the
    * dir name's `c<version>-<uuid>` encoding (every write path names
    * dirs through `VersionedTable.newCommitName`). What lets lineage
    * queries join `$history` directly (`SELECT h.op, count(*) FROM
    * graft.t JOIN graft.`t$history` h ON _commit_version = h.version
    * GROUP BY 1`) instead of string-slicing `_commit_dir`. Note the
    * same caveat as the dir column: maintenance rewrites (OPTIMIZE /
    * compact) re-home rows into a dir named by the MAINTENANCE
    * version — provenance is "the commit that wrote these bytes",
    * not original ingest time (CDC is the ingest-time plane). */
  val VersionColName = "_commit_version"

  val versionField: StructField =
    StructField(VersionColName, org.apache.spark.sql.types.LongType,
      nullable = false)

  def versionRef: NamedReference = Expressions.column(VersionColName)

  /** Parse the committing version out of a dir name (or a
    * `dir/file.parquet` carry reference). −1 for a name outside the
    * `c<digits>-…` convention — never throws on provenance. */
  def versionOf(dirOrRef: String): Long = {
    val dir = dirOrRef.takeWhile(_ != '/')
    if (dir.length < 2 || dir.charAt(0) != 'c') return -1L
    val digits = dir.drop(1).takeWhile(_.isDigit)
    if (digits.isEmpty || digits.length + 1 >= dir.length ||
      dir.charAt(digits.length + 1) != '-') -1L
    else digits.toLong
  }
}

/** Batch scan over a set of commit dirs that appends the constant
  * `_commit_dir` column to every row: partitions are planned PER DIR
  * through Spark's own `ParquetScan` (vectorized planning, normal
  * split sizing — a dir's partitions never mix dirs, which is what
  * makes the constant exact), and the reader factory joins the
  * constant suffix per row. Row-based reads — a columnar batch can't
  * be extended in place; provenance costs the vectorized path, which
  * is why the column only materializes when explicitly referenced.
  *
  * `dirsNow` is re-read at every `planInputPartitions` call, so a
  * runtime group filter that shrinks the dir set between planning and
  * execution (see [[RuntimeFilteredDirScan]]) takes effect without
  * re-building the scan.
  */
class DirTaggedScan(spark: SparkSession, root: String,
    dirsNow: () => Seq[String], dataSchema: StructType,
    prunedData: StructType, options: CaseInsensitiveStringMap,
    pushedExprs: Seq[org.apache.spark.sql.catalyst.expressions
      .Expression] = Seq.empty,
    metaCols: Seq[String] = Seq(DirTag.ColName))
    extends Scan with Batch {

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}

  private val metaFields: Array[StructField] = metaCols.map {
    case DirTag.ColName => DirTag.field
    case DirTag.VersionColName => DirTag.versionField
    case other => throw new IllegalArgumentException(
      s"unknown metadata column $other")
  }.toArray

  override def readSchema(): StructType =
    StructType(prunedData.fields ++ metaFields)

  override def description(): String =
    s"graft-dirtagged $root"

  override def toBatch: Batch = this

  // split the pushed conjuncts: predicates on `_commit_dir` ALONE or
  // `_commit_version` ALONE prune whole dirs driver-side (provenance
  // reads behave like partition pruning — `WHERE _commit_dir =
  // 'c00003-…'` or `WHERE _commit_version = 3` opens one commit's
  // dirs); predicates on data columns alone forward into each per-dir
  // parquet builder for row-group pruning; mixed-reference conjuncts
  // stay post-scan (Spark re-evaluates everything above the scan
  // anyway — pushing is I/O savings, never semantics)
  // membership in metaCols, not the name alone: the BUILDER already
  // resolved shadowing (a DATA column named `_commit_version` on a
  // CDF-relayed sink shadows the metadata column and never lands in
  // metaCols), so a name-only match here would misroute a pushed
  // DATA predicate into driver-side dir pruning and evaluate it
  // against dir-name-parsed versions — silently dropping rows.
  // Shadowed-name predicates are ordinary data predicates: they
  // forward into the per-dir parquet builders like any other.
  private def isMetaName(n: String): Boolean = metaCols.contains(n)
  private val (dirExprs, dataExprs) = {
    val (d, rest) = pushedExprs.partition(e =>
      e.references.nonEmpty &&
        (e.references.forall(r => r.name == DirTag.ColName &&
          isMetaName(DirTag.ColName)) ||
          e.references.forall(r => r.name == DirTag.VersionColName &&
            isMetaName(DirTag.VersionColName))))
    (d, rest.filterNot(_.references.exists(r => isMetaName(r.name))))
  }

  private def dirSurvives(dir: String): Boolean = dirExprs.forall { e =>
    val onVersion =
      e.references.forall(_.name == DirTag.VersionColName)
    val bound = e.transform {
      case _: AttributeReference =>
        BoundReference(0,
          if (onVersion) org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.StringType,
          nullable = false)
    }
    val pred = org.apache.spark.sql.catalyst.expressions.Predicate
      .create(bound)
    pred.initialize(0)
    pred.eval(org.apache.spark.sql.catalyst.InternalRow(
      if (onVersion) DirTag.versionOf(dir)
      else UTF8String.fromString(dir)))
  }

  private def scanFor(paths: Seq[String]): Scan = {
    val b = ParquetTable(s"graft-dirtagged $root", spark, options, paths,
      userSpecifiedSchema = Some(dataSchema),
      fallbackFileFormat = classOf[ParquetFileFormat])
      .newScanBuilder(options)
    b match {
      case f: SupportsPushDownCatalystFilters if dataExprs.nonEmpty =>
        f.pushFilters(dataExprs): Unit
      case _ => ()
    }
    b match {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(prunedData)
      case _ => ()
    }
    b.build()
  }

  override def planInputPartitions(): Array[InputPartition] =
    DirTaggedScan.planPerDir(new Path(root, "data"),
      dirsNow().filter(dirSurvives), scanFor)

  override def createReaderFactory(): PartitionReaderFactory =
    // path-independent template factory (reads any FilePartition with
    // this schema/conf), same pattern as the streaming source
    new DirTaggedReaderFactory(
      scanFor(Seq.empty).toBatch.createReaderFactory(), metaCols)
}

private[graft] object DirTaggedScan {
  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

  /** Plan partitions for a set of commit dirs with ONE scan (one file
    * listing, one split computation) and regroup the resulting
    * FilePartitions so no partition mixes dirs — the constant tag per
    * partition stays exact while driver cost stays O(listing), not
    * O(dirs) separate ParquetTable builds (measured: per-dir planning
    * dominated the runtime-pruned MERGE at 600 dirs). Falls back to
    * per-dir scans if the engine ever hands back a non-FilePartition
    * shape. */
  def planPerDir(dataRoot: Path, dirs: Seq[String],
      scanFor: Seq[String] => Scan): Array[InputPartition] = {
    if (dirs.isEmpty) return Array.empty
    val paths = dirs.map(d => new Path(dataRoot, d).toString)
    val combined = scanFor(paths).toBatch.planInputPartitions()
    if (combined.forall(_.isInstanceOf[FilePartition])) {
      // the tag is the manifest REFERENCE a file was planned under:
      // the dir name for whole-dir entries, `dir/file.parquet` for a
      // file reference (a partial rewrite's in-place carry) — so the
      // runtime group filter's surviving values match the operation's
      // reference list exactly, whichever granularity produced them
      val entrySet = dirs.toSet
      def dirOf(f: PartitionedFile): String = {
        val p = f.toPath
        val d = p.getParent.getName
        val fileRef = s"$d/${p.getName}"
        if (entrySet.contains(fileRef)) fileRef else d
      }
      // keep Spark's size-balanced packing; split only the partitions
      // that pack files from more than one dir
      var idx = -1
      combined.flatMap { p =>
        p.asInstanceOf[FilePartition].files.groupBy(dirOf)
          .toSeq.sortBy(_._1).map { case (dir, files) =>
            idx += 1
            DirTaggedPartition(dir, FilePartition(idx, files))
          }
      }
    } else
      dirs.flatMap { dir =>
        scanFor(Seq(new Path(dataRoot, dir).toString)).toBatch
          .planInputPartitions().map(p => DirTaggedPartition(dir, p))
      }.toArray
  }
}

/** [[DirTaggedScan]] that additionally accepts Spark's RUNTIME group
  * filter (`SupportsRuntimeV2Filtering` keyed on `_commit_dir`): the
  * `RowLevelOperationRuntimeGroupFiltering` optimizer rule plans a
  * subquery computing which commit dirs contain rows matching the
  * statement (for MERGE: dirs with join matches — a condition static
  * manifest stats can never decide because it references the source),
  * and at execution hands the surviving dir names to [[filter]]. The
  * scan shrinks to those dirs AND reports them through `onFilter`, so
  * the row-level write replaces exactly the scanned groups and
  * carries the rest by identity — MERGE INTO at O(matched dirs), not
  * O(table).
  *
  * Conservative by construction: a predicate shape this parser
  * doesn't recognize leaves the dir set unchanged (scan more,
  * never less), and if the rule never fires the initial set stands.
  */
class RuntimeFilteredDirScan(spark: SparkSession, root: String,
    initialDirs: Seq[String], dataSchema: StructType,
    prunedData: StructType, options: CaseInsensitiveStringMap,
    onFilter: Seq[String] => Unit)
    extends DirTaggedScan(spark, root, () => RuntimeFilteredDirScan
      .nothing, dataSchema, prunedData, options)
    with SupportsRuntimeV2Filtering {

  @volatile private var current: Seq[String] = initialDirs

  override def planInputPartitions(): Array[InputPartition] =
    DirTaggedScan.planPerDir(new Path(root, "data"), current, scanForDirs)

  // DELIBERATELY pushes NO data filters into the per-dir parquet
  // builders (unlike DirTaggedScan's main-read path): this scan feeds
  // the ROW-LEVEL REWRITE, whose carry unit is the whole commit dir —
  // every row of a surviving dir must flow through the scan into the
  // replacement, including carry-over rows that FAIL the statement's
  // target-only ON conjuncts (MERGE keeps unmatched target rows
  // as-is). Row-group pruning on those conjuncts would drop exactly
  // those rows from the rewrite — silent data loss, not an I/O
  // optimization (GraftCatalogSpec pins the straddling-dir case).
  // Sub-dir I/O savings here would need a finer carry unit (per-FILE
  // manifests, Iceberg's granularity) — a format change, not a scan
  // tweak. Target-only conjuncts already prune at the safe dir
  // granularity via the static manifest-stats classification in
  // GraftRowLevelOperation.pushFilters.
  private def scanForDirs(paths: Seq[String]): Scan = {
    val b = ParquetTable(s"graft-rowlevel $root", spark, options, paths,
      userSpecifiedSchema = Some(dataSchema),
      fallbackFileFormat = classOf[ParquetFileFormat])
      .newScanBuilder(options)
    b match {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(prunedData)
      case _ => ()
    }
    b.build()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DirTaggedReaderFactory(
      scanForDirs(Seq.empty).toBatch.createReaderFactory())

  override def filterAttributes(): Array[NamedReference] =
    Array(DirTag.ref)

  override def filter(predicates: Array[Predicate]): Unit = {
    val keep = predicates.foldLeft(current) { (dirs, p) =>
      matchedDirs(p) match {
        case Some(vals) =>
          // the subquery's values and this scan's references may sit
          // at DIFFERENT granularities: the statement's static
          // classification can split a dir into file references
          // while the subquery (planned over the table's own scan)
          // tags at dir granularity, or the manifest itself carries
          // file refs. Exact match drops provably-matchless entries;
          // a dir-level value conservatively keeps every file ref
          // inside it (the value proves the DIR holds matching rows,
          // not which file), and a file-level value keeps its whole
          // dir if this scan is coarser. Sound either way: dropping
          // requires proof, keeping never loses rows.
          def dirOf(s: String) = s.takeWhile(_ != '/')
          val valDirs = vals.map(dirOf)
          dirs.filter(r => vals.contains(r) ||
            vals.contains(dirOf(r)) || valDirs.contains(r))
        case None => dirs // unrecognized shape: never prune on a guess
      }
    }
    current = keep
    onFilter(keep)
  }

  // the runtime filter arrives as IN(_commit_dir, v1..vk) (or = for a
  // single survivor); anything else is ignored
  private def matchedDirs(p: Predicate): Option[Set[String]] =
    p.name() match {
      case "IN" | "=" =>
        val children = p.children()
        children.headOption match {
          case Some(ref: NamedReference)
              if ref.fieldNames().sameElements(Array(DirTag.ColName)) =>
            val vals = children.tail.collect {
              case l: Literal[_] => String.valueOf(l.value)
            }
            if (vals.length == children.length - 1) Some(vals.toSet)
            else None // a non-literal child: don't prune on a guess
          case _ => None
        }
      case _ => None
    }
}

private object RuntimeFilteredDirScan {
  // placeholder for the parent's dirsNow (the subclass overrides
  // planInputPartitions and never consults it)
  def nothing: Seq[String] = Seq.empty
}

/** An input partition plus the commit dir whose files it reads. */
case class DirTaggedPartition(dir: String, inner: InputPartition)
    extends InputPartition

/** Appends the requested constant provenance suffix (`_commit_dir`
  * and/or `_commit_version`, in declaration order) to every row of
  * the wrapped partition reader — one shared JoinedRow, zero
  * copies. */
class DirTaggedReaderFactory(inner: PartitionReaderFactory,
    metaCols: Seq[String] = Seq(DirTag.ColName))
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case DirTaggedPartition(dir, ip) =>
      val r = inner.createReader(ip)
      new PartitionReader[InternalRow] {
        private val joined =
          new org.apache.spark.sql.catalyst.expressions.JoinedRow
        private val tag = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(metaCols.map {
            case DirTag.ColName =>
              UTF8String.fromString(dir): Any
            case DirTag.VersionColName => DirTag.versionOf(dir): Any
            case other => throw new IllegalArgumentException(
              s"unknown metadata column $other")
          }.toArray)
        override def next(): Boolean = r.next()
        override def get(): InternalRow = joined(r.get(), tag)
        override def close(): Unit = r.close()
      }
    case other => inner.createReader(other)
  }
}

/** The scan builder of a pinned versioned-table snapshot, for the
  * catalog and the path connector alike: delegates EVERYTHING to
  * Spark's own `ParquetScanBuilder` (full pushdown fidelity —
  * catalyst filters, column pruning) until the required columns turn
  * out to include `_commit_dir`, at which point it switches to the
  * per-dir tagged scan (which re-applies column pruning per dir; the
  * pushed filters stay post-scan, which is the file source's contract
  * anyway — data filters are always re-evaluated above the scan, so
  * dropping their row-group hints in dir mode affects I/O, never
  * answers).
  *
  * FILE PRUNING happens here, where the pushed filters arrive:
  * `classify` (the table's manifest file classifier) splits the
  * snapshot's references `dirNames` under the filters' conjunction,
  * and when it proves any file clean the delegate becomes
  * `scanOver(surviving refs)` — `inner` is the whole snapshot's
  * builder. The filters stay on the plan above the scan, so pruning
  * only ever removes files the stats PROVE irrelevant. Dir mode
  * drops the entries that are clean as a whole and scans the rest
  * whole, so `_commit_dir` keeps naming manifest entries.
  *
  * Lives in the spark.sql.graft bridge package because full-fidelity
  * filter forwarding needs the `SupportsPushDownCatalystFilters` seam
  * `ParquetScanBuilder` actually implements — same pinned-internal
  * posture as [[ColumnBridge]]/[[StreamingBridge]]. */
class DirAwareScanBuilder(spark: SparkSession, root: String,
    version: Int,
    dataSchema: StructType, dirNames: Seq[String], inner: ScanBuilder,
    classify: org.apache.spark.sql.catalyst.expressions.Expression =>
      graft.sources.VersionedTable.FileClasses,
    scanOver: Seq[String] => ScanBuilder,
    options: CaseInsensitiveStringMap, streamable: Boolean = false,
    bucketed: Option[BucketLayout] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var dirMode = false
  private var metaRequested: Seq[String] = Seq.empty
  private var aggPushed = false
  private var prunedData: StructType = dataSchema
  private var stored: Seq[org.apache.spark.sql.catalyst.expressions
    .Expression] = Seq.empty
  // the pushed filters' classification, when it pruned any file
  private var pruned: Option[graft.sources.VersionedTable.FileClasses] =
    None
  private var delegate: ScanBuilder = inner

  // the MetadataColumn contract: a DATA column with the same name
  // SHADOWS the metadata column (a CDF-relayed sink legitimately has
  // its own `_commit_version` data column) — only a requested name
  // that is NOT in the table schema means provenance mode
  private def isMetaName(n: String): Boolean =
    (n == DirTag.ColName || n == DirTag.VersionColName) &&
      !dataSchema.fieldNames.contains(n)

  // MIN/MAX/COUNT forward into Spark's own parquet aggregate pushdown
  // (footer-stats answers — `SELECT count(*) FROM graft.t` costs
  // metadata reads, not a table scan; Spark only pushes when provably
  // exact: no data filters, no unsupported types). A pushed
  // aggregation rewrites the scan's output to aggregate rows, so the
  // bucket/streamable wraps below step aside for it.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = delegate match {
    case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
      a.supportCompletePushDown(agg)
    case _ => false
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = delegate match {
    case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
      val ok = a.pushAggregation(agg)
      if (ok) aggPushed = true
      ok
    case _ => false
  }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    stored = filters
    pruned = filters
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      .map(classify).filter(_.pruned > 0)
    pruned.foreach(c => delegate = scanOver(c.mayMatch))
    delegate match {
      case f: SupportsPushDownCatalystFilters => f.pushFilters(filters)
      case _ => filters
    }
  }

  override def pushedFilters: Array[Predicate] = delegate match {
    // advisory/explain metadata; in dir mode the per-dir scans carry
    // no pushed filters, so report none
    case f: SupportsPushDownCatalystFilters if !dirMode => f.pushedFilters
    case _ => Array.empty
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fieldNames.exists(isMetaName)) {
      dirMode = true
      metaRequested = requiredSchema.fieldNames.filter(isMetaName).toSeq
      prunedData = StructType(
        requiredSchema.fields.filterNot(f => isMetaName(f.name)))
    } else {
      prunedData = requiredSchema
      delegate match {
        case c: SupportsPushDownRequiredColumns =>
          c.pruneColumns(requiredSchema)
        case _ => ()
      }
    }

  // the surviving references of a pruned scan, for its statistics
  private def refs: Option[Seq[String]] = pruned.map(_.mayMatch)

  override def build(): Scan =
    if (dirMode) {
      val clean = pruned.fold(Set.empty[String])(_.noMatch.toSet)
      new DirTaggedScan(spark, root, () => dirNames.filterNot(clean),
        dataSchema, prunedData, options, stored, metaRequested)
    } else if (aggPushed) delegate.build() // aggregate rows: no layout claims
    else bucketed match {
      // report the bucket layout only while the key column survives
      // pruning — a keyless scan can't anchor the partitioning
      // expression, and has no join to co-locate anyway
      case Some(BucketLayout(key, n, sorted))
          if prunedData.fieldNames.exists(_.equalsIgnoreCase(key)) =>
        val cased = prunedData.fieldNames
          .find(_.equalsIgnoreCase(key)).get
        if (sorted)
          new SortedBucketedDelegatingScan(spark, root, version, refs,
            options, delegate.build(), cased, n, streamable)
        else new BucketedDelegatingScan(spark, root, version, refs,
          options, delegate.build(), cased, n, streamable)
      // every catalog read reports statistics (time-traveled
      // snapshots included); only live snapshots also stream. A
      // bloom-pinned table additionally accepts RUNTIME equality
      // filters (a selective broadcast-dim join hands its key set to
      // the scan, which drops files whose blooms miss every value)
      case _ =>
        val bloomCols = graft.sources.VersionedTable
          .bloomColumns(spark, root, Some(version))
          .getOrElse(Seq.empty)
          .filter(c => prunedData.fieldNames.exists(_.equalsIgnoreCase(c)))
        if (bloomCols.nonEmpty)
          new BloomRuntimeFilteredScan(spark, root, version, refs,
            options, delegate.build(), streamable, bloomCols)
        else new StreamableDelegatingScan(spark, root, version, refs,
          options, delegate.build(), streamable)
    }
}

/** The catalog table's batch scan with `spark.readStream.table`
  * support bolted on: every batch method delegates verbatim to
  * Spark's own `ParquetScan`; `toMicroBatchStream` hands the engine
  * the same snapshot-then-tail [[graft.sources.VersionedTableMicroBatchStream]]
  * the path-based `graft-versioned-stream` connector serves, reading
  * under the scan's (possibly column-pruned) schema. Change-feed
  * modes carry extra columns the fixed catalog relation schema cannot
  * express — those route to the path connector, loudly. */
private class StreamableDelegatingScan(spark: SparkSession,
    root: String, version: Int, refs: Option[Seq[String]],
    options: CaseInsensitiveStringMap, delegate: Scan,
    streamable: Boolean = true)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftScanStats.estimate(spark, root, version, refs, delegate)

  override def readSchema(): StructType = delegate.readSchema()

  override def description(): String = delegate.description()

  override def toBatch: Batch = delegate.toBatch

  override def columnarSupportMode()
      : Scan.ColumnarSupportMode = delegate.columnarSupportMode()

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(streamable,
      s"stream read of $root: a time-traveled snapshot is frozen — " +
        "nothing to stream")
    require(!Option(options.get("readChangeFeed"))
      .exists(_.trim.toBoolean),
      "change-feed STREAMING adds change_kind/_commit_version columns " +
        "the catalog relation's schema cannot carry — use " +
        "spark.readStream.format(\"graft-versioned-stream\")" +
        ".option(\"readChangeFeed\", \"true\").load(<table root>)")
    new graft.sources.VersionedTableMicroBatchStream(spark, root,
      delegate.readSchema(), options, checkpointLocation)
  }
}

/** [[StreamableDelegatingScan]] for tables with a BLOOM pin: accepts
  * RUNTIME equality filters (the same DSv2 dynamic-pruning seam the
  * bucket scan uses). When the table joins a filtered dim on a
  * bloom-pinned column and the dim broadcasts, Spark hands the dim's
  * key set to [[filter]] as IN(col, v1..vk) at runtime; files whose
  * per-file bloom misses EVERY value never leave the driver. This is
  * exactly the point-enrichment join shape — keys high-cardinality
  * and unclustered, where min/max envelopes cannot prune. A SEPARATE
  * subclass (not a mixin on every plain scan) because merely
  * ADVERTISING `SupportsRuntimeV2Filtering` changes how the planner
  * treats the relation in DPP decisions — unpinned tables must stay
  * byte-identical to the planner. Conjunction across predicates;
  * conservative everywhere (uncovered file, non-literal, unknown
  * domain all pass). */
private class BloomRuntimeFilteredScan(spark: SparkSession,
    root: String, version: Int, refs: Option[Seq[String]],
    options: CaseInsensitiveStringMap, delegate: Scan,
    streamable: Boolean, bloomCols: Seq[String])
    extends StreamableDelegatingScan(spark, root, version, refs, options,
      delegate, streamable)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var keepValues
      : Option[Map[String, Set[Any]]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    bloomCols.map(Expressions.column).toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val perPredicate = predicates.flatMap(valueSet)
    if (perPredicate.nonEmpty) {
      // same column constrained twice → intersect; different columns
      // → independent conjuncts
      val merged = perPredicate.groupBy(_._1)
        .map { case (c, vs) => c -> vs.map(_._2).reduce(_ intersect _) }
      keepValues = Some(merged)
    }
  }

  // IN(col, literals...) / =(col, literal) on a bloom-pinned column →
  // the probe-domain value set; any other shape prunes nothing
  private def valueSet(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Set[Any])] = p.name() match {
    case "IN" | "=" =>
      val children = p.children()
      children.headOption match {
        case Some(ref: org.apache.spark.sql.connector.expressions
          .NamedReference) if ref.fieldNames().length == 1 &&
            bloomCols.exists(_.equalsIgnoreCase(ref.fieldNames()(0))) =>
          val colName = ref.fieldNames()(0).toLowerCase
          val dt = readSchema().fields
            .find(_.name.equalsIgnoreCase(colName)).map(_.dataType)
          val lits = children.tail.collect {
            case l: org.apache.spark.sql.connector.expressions
              .Literal[_] => l
          }
          if (lits.length != children.length - 1 || dt.isEmpty) None
          else {
            val vals = lits.flatMap(l =>
              graft.sources.BloomSkipping.probeValue(l.value, dt.get))
            // every literal must convert, or the set is incomplete
            // and pruning on it would drop matching files
            if (vals.length == lits.length) Some(colName -> vals.toSet)
            else None
          }
        case _ => None
      }
    case _ => None
  }

  override def toBatch: Batch = new Batch {
    private val inner = delegate.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      keepValues match {
        case None => inner.planInputPartitions()
        case Some(keep) =>
          val dataRoot = new org.apache.hadoop.fs.Path(root, "data")
          def fileOk(pf: org.apache.spark.sql.execution.datasources
            .PartitionedFile): Boolean = {
            val dir = pf.filePath.toPath.getParent.getName
            val name = pf.filePath.toPath.getName
            graft.sources.BloomSkipping.bloomsForDir(spark,
              new org.apache.hadoop.fs.Path(dataRoot, dir))
              .flatMap(_.get(name)) match {
              case None => true // uncovered file: conservatively read
              case Some(byCol) => keep.forall { case (c, vs) =>
                byCol.get(c) match {
                  case Some(bf) => vs.exists(
                    graft.sources.BloomSkipping.mightContain(bf, _))
                  case None => true
                }
              }
            }
          }
          import org.apache.spark.sql.execution.datasources.FilePartition
          inner.planInputPartitions().flatMap {
            case fp: FilePartition =>
              val kept = fp.files.filter(f => fileOk(f))
              if (kept.isEmpty) None
              else Some(fp.copy(files = kept): InputPartition)
            case other => Some(other) // never guess on unknown shapes
          }.zipWithIndex.map {
            case (fp: FilePartition, i) => fp.copy(index = i)
            case (other, _) => other
          }
      }
    override def createReaderFactory(): PartitionReaderFactory =
      inner.createReaderFactory()
  }
}
