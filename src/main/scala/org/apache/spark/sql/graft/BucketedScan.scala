package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Storage-partitioned-join scan over a bucket-pinned versioned table:
  * delegates ALL I/O machinery to Spark's own `ParquetScan` (pushdown,
  * split planning, the vectorized reader — nothing re-implemented) and
  * changes exactly two things:
  *
  *  1. partitions REGROUP by bucket id — every `part-NNNNN-` file the
  *     bucketing write path produced carries its bucket in its name
  *     (shuffle-partition index == `pmod(murmur3(key,42), n)`, see
  *     [[graft.sources.GraftBucket]]), so files of bucket k across ALL
  *     commit dirs fold into ONE `InputPartition` exposing
  *     `HasPartitionKey` = k — exactly n partitions, empty buckets
  *     included (a missing value on one join side would otherwise need
  *     the push-part-values dance);
  *  2. the scan reports `KeyGroupedPartitioning(bucket(n, key), n)`,
  *     which Spark resolves through the catalog's `FunctionCatalog`
  *     and — when both join sides report the SAME bound function and
  *     bucket count — plans the join with NO shuffle exchange
  *     (`spark.sql.sources.v2.bucketing.enabled`; Iceberg's
  *     storage-partitioned-join mechanism).
  *
  * At 100 TB the join shuffle is the dominant cost of any fact-fact
  * join; co-bucketing the tables at write time converts it into a
  * per-bucket merge — this scan is what makes that conversion provable
  * to the planner rather than a promise in a runbook.
  *
  * The scan only exists when the snapshot is PROVABLY bucketed (every
  * non-empty dir `#bucketed:`-marked — the caller checks); a file
  * whose name doesn't parse as a bucket is therefore an invariant
  * violation and fails loudly rather than mis-grouping rows.
  */
/** A snapshot's provable bucket layout: the pinned key and count,
  * plus whether per-partition KEY ORDER is also provable (every dir
  * `#sorted:`-marked and no bucket concatenates two data files —
  * concatenation would break the order sortWithinPartitions wrote). */
case class BucketLayout(key: String, n: Int, sorted: Boolean)

/** Planner statistics for a delegating catalog scan. A DSv2 scan that
  * does not implement `SupportsReportStatistics` makes its relation
  * cost `spark.sql.defaultSizeInBytes` (effectively infinite) — the
  * static planner then never broadcasts a graft dimension table and
  * CBO has nothing to reorder with; AQE papers over it at runtime but
  * static decisions (DPP planning, subqueries, AQE-off sessions) stay
  * blind. So every wrap forwards the delegated `ParquetScan`'s
  * estimate (file bytes × compression factor × column-pruning ratio)
  * and upgrades the row count to the EXACT manifest count when every
  * file carries stats — an O(manifest) driver lookup, no file I/O.
  * A pruned scan (`refs`: the surviving references; None = the whole
  * version) reports the row count and envelopes of its survivors. */
private[graft] object GraftScanStats {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.read.Statistics
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import org.apache.spark.sql.types._
  import java.util.{Optional, OptionalLong}

  def estimate(spark: SparkSession, root: String, version: Int,
      refs: Option[Seq[String]], delegate: Scan): Statistics = {
    val base = delegate match {
      case s: org.apache.spark.sql.connector.read
        .SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    val vt = graft.sources.VersionedTable
    val exactRows: Option[Long] = scala.util.Try(refs.fold(
      vt.rowCount(spark, root, Some(version)))(
      vt.rowCountOf(spark, root, version, _))).toOption.flatten
    val envs = scala.util.Try(refs.fold(
      vt.columnEnvelopes(spark, root, Some(version)))(
      vt.columnEnvelopesOf(spark, root, version, _))).getOrElse(Map.empty)
    val colStats = columnStatsFor(spark, root, version, envs, exactRows,
      delegate.readSchema())
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        base.map(_.sizeInBytes).getOrElse(OptionalLong.empty())
      override def numRows(): OptionalLong = exactRows
        .map(OptionalLong.of)
        .orElse(base.map(_.numRows)).getOrElse(OptionalLong.empty())
      override def columnStats()
          : java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }

  /** Manifest column envelopes → DSv2 column statistics, so CBO
    * (`spark.sql.cbo.enabled`) estimates filter selectivity and join
    * order from the table's REAL value ranges. Values convert from
    * the stats comparison domain into the catalyst internal form the
    * optimizer's estimators consume (Spark forwards `min`/`max`
    * verbatim into `ColumnStat`); columns whose read type can't host
    * the envelope are dropped — absent beats wrong. Distinct counts
    * come ONLY from the table's own NDV sketches
    * ([[graft.sources.NdvStats]]) when `enableNdvStats` pinned them —
    * never fabricated: an invented NDV under-costs equality
    * selectivity and over-broadcasts at scale. The estimate is
    * clamped to the column's non-null row count (an HLL can
    * overshoot; the clamp is a bound the manifest knows exactly). */
  private def columnStatsFor(spark: SparkSession, root: String,
      version: Int, envs: Map[String, graft.sources.DataSkipping.ColStats],
      rows: Option[Long], schema: StructType)
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (envs.isEmpty) return out
    val ndv: Map[String, Long] = scala.util.Try(graft.sources
      .VersionedTable.tableNdv(spark, root, Some(version)))
      .getOrElse(Map.empty)
      .map { case (k, v) => k.toLowerCase -> v }
    val byLower = envs.map { case (k, v) => k.toLowerCase -> v }
    schema.fields.foreach { f =>
      byLower.get(f.name.toLowerCase).foreach { cs =>
        def conv(v: Any): Option[Object] = (v, f.dataType) match {
          case (x: Long, ByteType) => Some(Byte.box(x.toByte))
          case (x: Long, ShortType) => Some(Short.box(x.toShort))
          case (x: Long, IntegerType) => Some(Int.box(x.toInt))
          case (x: Long, LongType) => Some(Long.box(x))
          case (x: Long, DateType) => Some(Int.box(x.toInt))
          case (x: Long, TimestampType | TimestampNTZType) =>
            Some(Long.box(x))
          case (x: Double, FloatType) => Some(Float.box(x.toFloat))
          case (x: Double, DoubleType) => Some(Double.box(x))
          case (x: String, StringType) =>
            Some(org.apache.spark.unsafe.types.UTF8String.fromString(x))
          case (x: Boolean, BooleanType) => Some(Boolean.box(x))
          case _ => None
        }
        val mn = cs.min.flatMap(conv)
        val mx = cs.max.flatMap(conv)
        // an envelope that exists but can't convert means the read
        // type disagrees with the stats domain — report nothing
        if (cs.min.isDefined == mn.isDefined &&
            cs.max.isDefined == mx.isDefined) {
          val nulls = cs.nullCount
          val distinct: Option[Long] =
            ndv.get(f.name.toLowerCase).map { est =>
              val nonNull = for (r <- rows; n <- nulls)
                yield math.max(0L, r - n)
              nonNull.fold(est)(math.min(est, _))
            }
          out.put(Expressions.column(f.name), new ColumnStatistics {
            override def distinctCount(): OptionalLong = distinct
              .map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def min(): Optional[Object] =
              mn.map(Optional.of[Object]).getOrElse(Optional.empty())
            override def max(): Optional[Object] =
              mx.map(Optional.of[Object]).getOrElse(Optional.empty())
            override def nullCount(): OptionalLong = nulls
              .map(OptionalLong.of).getOrElse(OptionalLong.empty())
          })
        }
      }
    }
    out
  }
}

private[graft] class BucketedDelegatingScan(spark: SparkSession,
    root: String, version: Int, refs: Option[Seq[String]],
    options: CaseInsensitiveStringMap, delegate: Scan, key: String,
    n: Int, streamable: Boolean)
    extends Scan with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftScanStats.estimate(spark, root, version, refs, delegate)

  // Runtime BUCKET pruning (Spark's DSv2 dynamic-pruning seam, the
  // mechanism Iceberg uses for partition columns): when this table
  // joins a filtered dimension on the bucket key and the dim side
  // broadcasts, Spark evaluates the dim's key set at runtime and
  // hands it to [[filter]] as IN(key, v1..vk). Each value maps to its
  // bucket by the writer's own formula, and every OTHER bucket's
  // files never leave the driver — a selective fact⋈dim join reads
  // |matched buckets|/n of a 100 TB table instead of all of it.
  // Partition COUNT is invariant (pruned buckets plan as empty
  // partitions), so the KeyGroupedPartitioning contract — and any
  // planned storage-partitioned join — survives the pruning.
  @volatile private var keepBuckets: Option[Set[Int]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(key))

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sets = predicates.flatMap(bucketSet)
    if (sets.nonEmpty)
      keepBuckets = Some(sets.reduce(_ intersect _))
  }

  // IN(key, literals...) / =(key, literal) → the bucket ids those
  // values land in; any other shape prunes nothing (never guess)
  private def bucketSet(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[Int]] = p.name() match {
    case "IN" | "=" =>
      val children = p.children()
      children.headOption match {
        case Some(ref: org.apache.spark.sql.connector.expressions
          .NamedReference) if ref.fieldNames().length == 1 &&
            ref.fieldNames()(0).equalsIgnoreCase(key) =>
          val lits = children.tail.collect {
            case l: org.apache.spark.sql.connector.expressions
              .Literal[_] => l
          }
          // every literal must carry EXACTLY the key column's read
          // type: murmur3 of 17:int and 17:long differ, so a
          // mixed-type literal bucketed by its own type would prune
          // the WRONG bucket (missing rows, not a missed
          // optimization). Catalyst's type coercion makes this the
          // common case; the guard closes the rest.
          val keyType = readSchema().fields
            .find(_.name.equalsIgnoreCase(key)).map(_.dataType)
          if (lits.length == children.length - 1 &&
              lits.forall(l => keyType.contains(l.dataType)))
            Some(lits.map(bucketOf).toSet)
          else None // non-literal or type-mismatched: never guess
        case _ => None
      }
    case _ => None
  }

  // the writer's formula exactly (see GraftBucket.Bound): NULL keys
  // fold to the bare seed, everything else through murmur3(seed=42)
  private def bucketOf(
      l: org.apache.spark.sql.connector.expressions.Literal[_]): Int = {
    val h =
      if (l.value == null) 42L
      else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(l.value, l.dataType, 42L)
    val i = h.toInt % n
    if (i < 0) i + n else i
  }

  override def readSchema() = delegate.readSchema()

  override def description(): String =
    s"graft-bucketed(n=$n, key=$key) ${delegate.description()}"

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.bucket(n, key)), n)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val planned = delegate.toBatch.planInputPartitions()
      val files = planned.flatMap {
        case fp: FilePartition => fp.files
        case other => sys.error(
          s"bucketed scan of $root: expected FilePartitions from the " +
            s"delegated parquet scan, got ${other.getClass.getName}")
      }
      val byBucket = files.groupBy { f =>
        graft.sources.GraftBucket.fileBucket(f.toPath.getName) match {
          case Some(b) if b < n => b
          case _ => sys.error(
            s"bucketed scan of $root: file ${f.toPath} is not a " +
              s"bucket-$n layout file — the #bucketed: manifest mark " +
              "lied, which is a format invariant violation")
        }
      }
      Array.tabulate(n) { k =>
        val fs =
          if (keepBuckets.forall(_.contains(k)))
            byBucket.getOrElse(k, Array.empty)
              .sortBy(f => (f.toPath.toString, f.start))
          else Array.empty[org.apache.spark.sql.execution.datasources
            .PartitionedFile] // runtime-pruned: planned but empty
        BucketPartition(k, FilePartition(k, fs))
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new BucketReaderFactory(delegate.toBatch.createReaderFactory())
  }

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

/** [[BucketedDelegatingScan]] that ALSO proves per-partition key
  * order (`SupportsReportOrdering`): each bucket holds at most one
  * data file, written key-sorted by the bucketing path — so a
  * co-bucketed, co-sorted join needs neither the shuffle NOR the
  * sort, and the merge join runs straight off the parquet readers.
  * The end state a 100 TB fact-fact join wants: O(read) + O(merge),
  * zero exchange, zero sort spill. */
private[graft] class SortedBucketedDelegatingScan(spark: SparkSession,
    root: String, version: Int, refs: Option[Seq[String]],
    options: CaseInsensitiveStringMap, delegate: Scan, key: String,
    n: Int, streamable: Boolean)
    extends BucketedDelegatingScan(spark, root, version, refs, options,
      delegate, key, n, streamable)
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array(Expressions.sort(Expressions.column(key),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
}

/** All of bucket k's files (across every commit dir of the snapshot),
  * as one partition keyed by k — the unit Spark's SPJ matches across
  * join sides. */
private[graft] case class BucketPartition(id: Int, inner: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](id))
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Unwraps [[BucketPartition]] for the delegated parquet reader
  * factory — rows AND columnar batches pass straight through, so the
  * bucketed path keeps the vectorized reader. */
private[graft] class BucketReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {

  private def unwrap(p: InputPartition): InputPartition = p match {
    case BucketPartition(_, fp) => fp
    case other => other
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(partition))

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    inner.createReader(unwrap(partition))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(unwrap(partition))
}
