package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** INCREMENTALLY MAINTAINED AGGREGATE VIEWS over versioned tables —
  * the consumer of the CDF plane that turns "the table changed" into
  * "the dashboard is current" at O(delta) instead of O(table).
  *
  * A materialized view is itself a versioned table (so it gets
  * snapshot isolation, time travel, SQL/catalog reads, and vacuum for
  * free) holding `base.groupBy(keys).agg(...)` in ACCUMULATOR form,
  * plus two pieces of bookkeeping:
  *
  *  - the immutable DEFINITION (`_mvdef.json` beside `_manifests/`,
  *    written once at [[create]]): base root, group keys, aggregate
  *    specs and their serve types;
  *  - the BASE-VERSION WATERMARK: each MV commit carries
  *    `#txn:graft-mv:<baseVersion>` — the same atomic idempotency
  *    marker streaming sinks use — so "which base version does this
  *    MV reflect" is answered from the MV's own manifest chain and
  *    can never tear from the data (a crashed refresh either
  *    committed both or neither; a replay sees the marker and no-ops).
  *
  * [[refresh]] folds `VersionedTable.changeFeed(watermark+1 .. latest)`
  * into the accumulators. Every delta row carries a sign (+1 for
  * insert/update_postimage, −1 for delete/update_preimage), so the
  * fold is ONE aggregate over the delta plus ONE |groups|-sized
  * re-group — never a base-table scan. Cost per refresh:
  *
  *  - append-only range (the ingest steady state): the feed is the
  *    added dirs read directly — O(delta) I/O, and the refresh's only
  *    shuffles are over delta-groups ∪ view-groups. A 1 GB append
  *    against a 100 TB base refreshes for the price of the 1 GB.
  *  - a range containing rewrites: each rewrite version serves its
  *    commit-time CDC file when the base pins a change-feed key
  *    (O(change-file)), else pays the honest snapshot diff for THAT
  *    version — the same regime ladder `changeFeed` already
  *    implements; the MV inherits it by construction.
  *
  * Supported aggregates: COUNT(*), SUM, AVG (and anything derivable
  * from them) — the SELF-MAINTAINABLE set: a delete's effect on a
  * sum/count is computable from the deleted row alone. Sums
  * accumulate in DECIMAL(38,6) of the cast input, never native
  * doubles — FP addition is not associative, and an MV whose value
  * depends on the order history arrived would drift from its own
  * full recompute; the decimal contract makes
  * `refresh ∘ refresh ∘ ... == fullRecompute` an identity, which is
  * what the spec asserts on random histories. MIN/MAX and approximate
  * COUNT DISTINCT ([[MvMin]]/[[MvMax]]/[[MvHllCount]]) are
  * INSERT-ONLY: `min(old,new)` and HLL union fold appends exactly,
  * but neither can un-see a deleted row (the classic
  * materialized-view result — evicting the current minimum means
  * rescanning the group), so [[refresh]] folds them across
  * append-only ranges (the ingest steady state) and REFUSES a range
  * containing rewrites, naming [[fullRefresh]] (recompute, same
  * atomic commit path) as the recipe.
  *
  * NULL semantics match GROUP BY recompute exactly: NULL group keys
  * form their own group (the fold re-groups accumulators, so no
  * null-unsafe join is ever involved); a group whose rows are all
  * deleted leaves the view (`count(*) == 0`); a SUM/AVG over only
  * NULL inputs serves NULL (per-aggregate non-null counts are part of
  * the accumulator state, distinguishing "sums to 0" from "nothing to
  * sum").
  */
object MaterializedView {

  /** The txn app id MV commits stamp their base-version watermark
    * under. Shared with nothing else by construction — [[VersionedTable
    * .lastCommittedTxn]] scans past other writers' markers. */
  val TxnAppId = "graft-mv"

  /** Manifest meta line restating the view's base-incarnation anchor
    * (`#mvanchor:<baseVersion>:<fingerprint>`). Stamped on EVERY mv
    * commit, so the anchor travels ATOMICALLY with the commit that
    * establishes it: [[fullRefresh]]'s re-anchor lands in the same
    * manifest rename as its recompute (a crash between commit and the
    * best-effort def rewrite can no longer leave a stale def-file
    * anchor that later refuses a legitimate refresh). Resolution
    * order at check time: newest manifest line (the
    * `lastCommittedTxn` backward scan, so interleaved marker-less
    * maintenance commits don't hide it), then the def file for views
    * created before the line existed. */
  private[sources] val AnchorPrefix = "#mvanchor:"

  private val DefFile = "_mvdef.json"
  private val SumType = DecimalType(38, 6)

  /** An aggregate the view maintains. `as` is the user-facing output
    * column name ([A-Za-z_][A-Za-z0-9_]* — it names accumulator
    * columns and must survive parquet/metadata round trips). */
  sealed trait MvAgg { def as: String }
  /** COUNT(*) per group, served as BIGINT. */
  final case class MvCount(as: String) extends MvAgg
  /** SUM(col), accumulated in DECIMAL(38,6), served as BIGINT when
    * the base column is integral (exact) else DOUBLE. */
  final case class MvSum(col: String, as: String) extends MvAgg
  /** AVG(col) = decimal sum / non-null count, served as DOUBLE. */
  final case class MvAvg(col: String, as: String) extends MvAgg
  /** MIN(col) — INSERT-ONLY maintainable: `min(old, new)` folds an
    * append exactly, but a delete can evict the current minimum,
    * which no accumulator can recover without rescanning the group.
    * [[refresh]] therefore serves append-only ranges and REFUSES a
    * range containing rewrites (fullRefresh is the recipe). */
  final case class MvMin(col: String, as: String) extends MvAgg
  /** MAX(col) — insert-only maintainable, same contract as [[MvMin]]. */
  final case class MvMax(col: String, as: String) extends MvAgg
  /** APPROX COUNT(DISTINCT col) as a per-group HLL sketch (Spark's
    * `hll_sketch_agg`, lgK 12 — exact below its coupon capacity,
    * ±~1.6% beyond): sketches UNION under inserts but cannot forget,
    * so insert-only like [[MvMin]]. Served as BIGINT. */
  final case class MvHllCount(col: String, as: String) extends MvAgg

  /** The aggregates a delete-bearing range can still fold. */
  private def insertOnly(a: MvAgg): Boolean = a match {
    case _: MvMin | _: MvMax | _: MvHllCount => true
    case _ => false
  }

  /** The persisted definition. `serveLong(as)` = the sum serves as
    * BIGINT (integral base column). `anchor` = (version, md5 of that
    * version's sorted manifest dir list) captured at create/
    * fullRefresh — the base-INCARNATION check: commit dirs are
    * UUID-named and manifests immutable, so a re-created base (rm +
    * init, same path) cannot reproduce the anchor, and [[refresh]]
    * refuses instead of folding a delta from a different table's
    * history. Best-effort by design: when the anchor version's
    * manifest has been vacuumed away the check is skipped (the
    * watermark-behind check still catches shorter re-creations). */
  final case class MvDef(base: String, keys: Seq[String],
      aggs: Seq[MvAgg], serveLong: Set[String],
      anchor: Option[(Int, String)],
      where: Option[String] = None)

  /** What a [[refresh]] did. `appendOnly` = every version in the
    * folded range was append-only (the whole delta came off the
    * O(delta) fast path — the canary the gates assert). */
  final case class RefreshReport(fromBase: Int, toBase: Int,
      mvVersion: Int, refreshed: Boolean, appendOnly: Boolean)

  // ---- accumulator column naming ----------------------------------
  private def cntCol = "__mv_cnt"
  private def sumCol(as: String) = s"__mv_sum_$as"
  private def nnCol(as: String) = s"__mv_nn_$as"
  private def minCol(as: String) = s"__mv_min_$as"
  private def maxCol(as: String) = s"__mv_max_$as"
  private def hllCol(as: String) = s"__mv_hll_$as"

  private def accColNames(d: MvDef): Seq[String] =
    cntCol +: d.aggs.flatMap {
      case MvCount(_) => Seq.empty[String]
      case MvMin(_, as) => Seq(minCol(as))
      case MvMax(_, as) => Seq(maxCol(as))
      case MvHllCount(_, as) => Seq(hllCol(as))
      case a => Seq(sumCol(a.as), nnCol(a.as))
    }

  /** The user-facing value of each aggregate, derived from its
    * accumulators (COUNT as BIGINT, integral SUM as BIGINT, fractional
    * SUM and AVG as DOUBLE, MIN/MAX in the column's type, HLL as
    * BIGINT; SUM/AVG over zero non-null inputs serve NULL). */
  private def servedCols(d: MvDef): Seq[Column] = d.aggs.map {
    case MvCount(as) => col(cntCol).as(as)
    case MvSum(_, as) =>
      val served =
        if (d.serveLong(as)) col(sumCol(as)).cast(LongType)
        else col(sumCol(as)).cast(DoubleType)
      when(col(nnCol(as)) > 0L, served).as(as)
    case MvAvg(_, as) =>
      when(col(nnCol(as)) > 0L,
        col(sumCol(as)).cast(DoubleType) /
          col(nnCol(as)).cast(DoubleType)).as(as)
    case MvMin(_, as) => col(minCol(as)).as(as)
    case MvMax(_, as) => col(maxCol(as)).as(as)
    // a group whose column is all NULL has a NULL sketch; COUNT
    // DISTINCT of nothing is 0
    case MvHllCount(_, as) =>
      coalesce(hll_sketch_estimate(col(hllCol(as))), lit(0L)).as(as)
  }

  /** The frame an MV version COMMITS: group keys, then the SERVED
    * columns (so any reader — catalog SQL, the path connector, a
    * time-traveled snapshot — sees the aggregate directly, no
    * MV-aware projection needed), then the `__mv_*` accumulators the
    * next fold resumes from. */
  private def withServed(acc: DataFrame, d: MvDef): DataFrame =
    acc.select(d.keys.map(col) ++ servedCols(d) ++
      accColNames(d).map(col): _*)

  /** Create the view at `mvRoot` as the aggregate of `baseRoot`'s
    * LATEST version; returns that base version. One full aggregate —
    * the only time the base is ever scanned whole.
    *
    * `where` (optional, a SQL predicate over base columns) restricts
    * the view to σ_where(base): a row FILTER commutes with the signed
    * fold — every change-feed row either satisfies it or not,
    * independent of history — so refresh stays O(delta) with the
    * filter applied to the delta before signing. The predicate must
    * be DETERMINISTIC (a rand()-bearing filter would make the fold
    * and the recompute disagree — refused at create) and is stored as
    * SQL text in the definition. JOINs stay out by design: a delta on
    * one side re-pairs against the other side's full history, which
    * IS the recompute. */
  def create(spark: SparkSession, mvRoot: String, baseRoot: String,
      keys: Seq[String], aggs: Seq[MvAgg],
      where: Option[String] = None): Int = {
    require(keys.nonEmpty, "a materialized view needs group keys")
    require(aggs.nonEmpty, "a materialized view needs aggregates")
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    aggs.foreach(a => require(a.as.matches(ident),
      s"aggregate name '${a.as}' must match $ident"))
    val dup = (keys ++ aggs.map(_.as)).groupBy(_.toLowerCase)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(dup.isEmpty, s"duplicate output columns: ${dup.mkString(", ")}")
    require(VersionedTable.latestVersion(spark, mvRoot) < 0,
      s"$mvRoot already holds a table — refresh it, don't re-create")
    val baseV = VersionedTable.latestVersion(spark, baseRoot)
    require(baseV >= 0, s"base table $baseRoot has no committed version")
    val snap = VersionedTable.read(spark, baseRoot, Some(baseV))
    val fields = snap.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    def resolve(c: String): StructField = fields.getOrElse(c.toLowerCase,
      throw new IllegalArgumentException(
        s"column '$c' not in base schema ${snap.schema.simpleString}"))
    keys.foreach(resolve)
    val serveLong = aggs.collect {
      case MvSum(c, as) if isIntegral(resolve(c).dataType) => as
    }.toSet
    aggs.foreach {
      case MvSum(c, _) => requireNumeric(resolve(c))
      case MvAvg(c, _) => requireNumeric(resolve(c))
      case MvMin(c, _) => requireOrderable(resolve(c))
      case MvMax(c, _) => requireOrderable(resolve(c))
      case MvHllCount(c, _) =>
        require(NdvStats.sketchInput(resolve(c)).isDefined,
          s"'$c' (${resolve(c).dataType.sql}) has no distinct-count " +
            "sketch domain")
      case _: MvCount => ()
    }
    where.foreach { w =>
      // the predicate must analyze against the base schema AND be
      // deterministic — checked here, once, against the same analyzed
      // form every later filter re-derives from the stored SQL
      val analyzed = snap.filter(expr(w)).queryExecution.analyzed
      val conds = analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }
      require(conds.forall(_.deterministic),
        s"WHERE predicate '$w' is non-deterministic — the fold and " +
          "the recompute would disagree; filter on row values only")
      // time-dependent expressions are 'deterministic' inside one
      // query (the optimizer pins them per-execution) but re-evaluate
      // differently at every refresh — a view filtered on
      // current_date() would silently diverge from its own full
      // recompute as the clock moves, violating the refresh ==
      // fullRecompute contract. Refused at create, same spelling as
      // the rand() refusal.
      import org.apache.spark.sql.catalyst.expressions.{
        CurrentDate, CurrentTimeZone, CurrentTimestamp, LocalTimestamp, Now}
      require(!conds.exists(_.exists {
        case _: CurrentDate | _: CurrentTimestamp | _: Now |
            _: LocalTimestamp | _: CurrentTimeZone => true
        case _ => false
      }), s"WHERE predicate '$w' is time-dependent (current_date/" +
        "current_timestamp/now/localtimestamp/current_timezone) — " +
        "each refresh would evaluate it at a different instant and " +
        "diverge from the recompute; filter on row values only")
    }
    val anchor = baseV -> anchorOf(spark, baseRoot, baseV)
    val d = MvDef(new Path(baseRoot).toString, keys, aggs, serveLong,
      Some(anchor), where)
    writeDef(spark, mvRoot, d)
    val acc = accumulate(filtered(snap, d), d, signed = false)
    VersionedTable.init(spark, mvRoot, withServed(acc, d),
      txn = Some(baseV.toLong), txnAppId = Some(TxnAppId),
      extraMetaLines = Seq(anchorMetaLine(anchor)))
    baseV
  }

  /** σ_where(df) under the stored predicate; identity when none. */
  private def filtered(df: DataFrame, d: MvDef): DataFrame =
    d.where.fold(df)(w => df.filter(expr(w)))

  /** Fold the base's changes since the watermark into the view —
    * one CDF read + one |delta-groups ∪ view-groups| re-group, then
    * one atomic commit carrying the new watermark. No-op (and no
    * commit) when the base hasn't moved. Fails with the CDF plane's
    * typed data-loss error if the range was vacuumed — [[fullRefresh]]
    * is the recovery spelling. */
  def refresh(spark: SparkSession, mvRoot: String): RefreshReport = {
    val d = readDef(spark, mvRoot)
    val mvV = VersionedTable.latestVersion(spark, mvRoot)
    require(mvV >= 0, s"$mvRoot has no committed version — create first")
    val from = watermark(spark, mvRoot)
    val to = VersionedTable.latestVersion(spark, d.base)
    require(to >= from, s"base ${d.base} is at version $to, behind the " +
      s"view's watermark $from — the base was re-created or restored; " +
      "fullRefresh to re-anchor")
    checkAnchor(spark, mvRoot, d)
    if (to == from)
      return RefreshReport(from, to, mvV, refreshed = false,
        appendOnly = true)
    // typed data-loss refusal BEFORE any manifest read: a vacuumed
    // range must surface as the CDF plane's GraftDataLossException
    // (which names the recovery), never a raw missing-file error from
    // the append-only probe below
    VersionedTable.requireVersionsAvailable(spark, d.base, from, to)
    // each manifest read ONCE (adjacent-pair comparison over a single
    // sweep): a refresh trailing by K versions costs K+1 metadata
    // reads, not 2K — this loop runs on every refresh of the CDC
    // steady state
    val manifests = (from to to).map(v =>
      VersionedTable.readManifest(spark, d.base, v).toSet)
    val appendOnly = manifests.sliding(2).forall {
      case Seq(prev, next) => prev.subsetOf(next)
      case _ => true
    }
    // insert-only aggregates cannot fold a delete (a MIN's evicted
    // minimum, a sketch's forgotten value) — refuse the range rather
    // than serve a silently-stale extreme
    if (!appendOnly && d.aggs.exists(insertOnly))
      throw new IllegalStateException(
        s"refresh range v$from..v$to of ${d.base} contains a rewrite, " +
          "and the view holds insert-only aggregates (" +
          d.aggs.filter(insertOnly).map(_.as).mkString(", ") +
          ") — MIN/MAX/HLL cannot un-see deleted rows. Run " +
          "fullRefresh (one recompute, same atomic commit), or keep " +
          "such views on append-only tables.")
    // keyed vocabulary when the base pins a CDC key (rewrite versions
    // then serve their commit-time change files at O(change-file));
    // both vocabularies carry the same sign structure
    val key = VersionedTable.changeFeedKey(spark, d.base, Some(to))
    val feed = VersionedTable.changeFeed(spark, d.base, from + 1,
      Some(to), key)
    val sign = when(col("change_kind")
      .isin("delete", "update_preimage"), lit(-1L)).otherwise(lit(1L))
    // σ_where BEFORE signing: a pre/post image pair crossing the
    // predicate boundary nets to exactly the enter/leave delta
    val delta = accumulate(
      filtered(feed, d).withColumn("__mv_sign", sign), d,
      signed = true)
    // state strips to keys+accumulators before the fold (the stored
    // served columns are derived data, recomputed at commit)
    val state = VersionedTable.read(spark, mvRoot, Some(mvV))
      .select(d.keys.map(col) ++ accColNames(d).map(col): _*)
    val merged = foldAccumulators(state.unionByName(delta), d)
    // restate the anchor so the newest manifest always carries it
    // (an aggressive vacuum can then never age the line out)
    val committed = VersionedTable.commit(spark, mvRoot,
      withServed(merged, d), mvV,
      txn = Some(to.toLong), txnAppId = Some(TxnAppId),
      op = "mv_refresh",
      extraMetaLines =
        currentAnchor(spark, mvRoot, d).map(anchorMetaLine).toSeq)
    RefreshReport(from, to, committed, refreshed = true, appendOnly)
  }

  /** Recompute the view from the base's latest snapshot — the
    * recovery path for a vacuumed CDF range, a base schema epoch the
    * feed refuses to span, or a restored/re-created base. Same atomic
    * commit + watermark as [[refresh]]; prior view versions stay
    * time-travelable. */
  def fullRefresh(spark: SparkSession, mvRoot: String): RefreshReport = {
    val d = readDef(spark, mvRoot)
    val mvV = VersionedTable.latestVersion(spark, mvRoot)
    require(mvV >= 0, s"$mvRoot has no committed version — create first")
    // tolerate a vacuumed-away watermark: fullRefresh IS the recovery
    val from = VersionedTable.lastCommittedTxn(spark, mvRoot, TxnAppId)
      .map(_.toInt).getOrElse(-1)
    val to = VersionedTable.latestVersion(spark, d.base)
    require(to >= 0, s"base ${d.base} has no committed version")
    val acc = accumulate(
      filtered(VersionedTable.read(spark, d.base, Some(to)), d), d,
      signed = false)
    // recompute legitimately re-anchors (the recovery path for a
    // re-created base). The fresh anchor rides the commit's OWN
    // manifest (atomic — a crash after the rename can never leave
    // the recompute visible under the stale anchor); the def rewrite
    // below is best-effort redundancy for readers of the def file.
    val anchor = to -> anchorOf(spark, d.base, to)
    val committed = VersionedTable.commit(spark, mvRoot,
      withServed(acc, d), mvV,
      txn = Some(to.toLong), txnAppId = Some(TxnAppId),
      op = "mv_full_refresh",
      extraMetaLines = Seq(anchorMetaLine(anchor)))
    writeDef(spark, mvRoot, d.copy(anchor = Some(anchor)))
    RefreshReport(from, to, committed, refreshed = true,
      appendOnly = false)
  }

  /** md5 over a version's sorted commit-dir names — the incarnation
    * fingerprint (dirs are UUID-named, manifests immutable). */
  private def anchorOf(spark: SparkSession, base: String, v: Int): String = {
    val dirs = VersionedTable.readManifest(spark, base, v).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(dirs.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def anchorMetaLine(a: (Int, String)): String =
    s"$AnchorPrefix${a._1}:${a._2}"

  /** The view's effective anchor: the newest manifest's `#mvanchor:`
    * line (atomic with the commit that established it), falling back
    * to the def file for pre-line views. */
  private def currentAnchor(spark: SparkSession, mvRoot: String,
      d: MvDef): Option[(Int, String)] =
    VersionedTable.lastMetaLine(spark, mvRoot, AnchorPrefix)
      .flatMap { body =>
        val i = body.indexOf(':')
        scala.util.Try((body.take(i).toInt, body.drop(i + 1))).toOption
      }.orElse(d.anchor)

  /** Is this anchor-manifest read failure the DOCUMENTED skip case (a
    * vacuumed-away manifest) rather than a real error? Only a
    * missing-file signal qualifies — a transient I/O failure or
    * corrupt read must RETHROW, not silently disable the incarnation
    * check exactly when storage is flaky. Pure so the discrimination
    * itself is spec-testable. */
  private[sources] def anchorReadFailureIsVacuum(e: Throwable): Boolean =
    e match {
      case _: java.io.FileNotFoundException => true
      case e: IllegalArgumentException => // manifestLines' missing-
        // version require reads "version N does not exist under ..."
        Option(e.getMessage).exists(_.contains("does not exist"))
      case _ => false
    }

  private def checkAnchor(spark: SparkSession, mvRoot: String,
      d: MvDef): Unit =
    currentAnchor(spark, mvRoot, d).foreach { case (v, fp) =>
      val have =
        try Some(anchorOf(spark, d.base, v))
        catch {
          case e: Throwable if anchorReadFailureIsVacuum(e) => None
        }
      // a vacuumed anchor manifest reads as None → check skipped
      have.foreach(h => require(h == fp,
        s"base ${d.base} version $v does not match the view's anchor " +
          "fingerprint — the base was re-created at the same path; its " +
          "change history is a different table's. fullRefresh to " +
          "re-anchor."))
    }

  /** The user-facing view: group keys + one column per aggregate
    * (COUNT as BIGINT, integral SUM as BIGINT, fractional SUM and AVG
    * as DOUBLE; SUM/AVG over zero non-null inputs serve NULL). Time
    * travel via `version` reads the accumulators the view held THEN —
    * i.e. the aggregate as of that refresh's base watermark. */
  def read(spark: SparkSession, mvRoot: String,
      version: Option[Int] = None): DataFrame = {
    val d = readDef(spark, mvRoot)
    // served values are MATERIALIZED per commit (withServed), so the
    // read is a plain projection — which also means any OTHER reader
    // (catalog SQL, the path connector) sees the same values without
    // MV-aware code; the __mv_* accumulators ride behind them
    VersionedTable.read(spark, mvRoot, version)
      .select(d.keys.map(col) ++ d.aggs.map(a => col(a.as)): _*)
  }

  /** The base version the view currently reflects. Throws when no
    * surviving manifest carries the marker — either the root is not a
    * materialized view, or a marker-less maintenance commit (a
    * generic `VersionedTable.compact`) plus an aggressive vacuum aged
    * the marker-bearing manifest out. Loud beats a silent re-fold:
    * recover with [[fullRefresh]], and compact the view through
    * [[compact]] (which re-stamps the marker) to avoid the state. */
  def watermark(spark: SparkSession, mvRoot: String): Int =
    VersionedTable.lastCommittedTxn(spark, mvRoot, TxnAppId)
      .map(_.toInt).getOrElse(throw new IllegalStateException(
        s"$mvRoot carries no reachable '$TxnAppId' watermark — either " +
          "this is not a materialized view, or a marker-less " +
          "maintenance commit plus vacuum aged it out. fullRefresh " +
          "re-anchors; use MaterializedView.compact (not the generic " +
          "compact) so maintenance keeps the marker reachable."))

  /** Compact the VIEW's own commit dirs (the read-amplification
    * antidote after many refreshes), RE-STAMPING the base-version
    * watermark on the compacted commit so it stays reachable under
    * any later vacuum — the generic `VersionedTable.compact` writes
    * no marker, leaving the watermark on an older manifest that an
    * aggressive vacuum could age out. */
  def compact(spark: SparkSession, mvRoot: String): Int =
    VersionedTable.withRetry() { compactOnce(spark, mvRoot) }

  // one optimistic attempt — re-derived per retry (a refresh landing
  // mid-compact re-reads through the new watermark next attempt)
  private def compactOnce(spark: SparkSession, mvRoot: String): Int = {
    val w = watermark(spark, mvRoot)
    val v = VersionedTable.latestVersion(spark, mvRoot)
    val anchor = scala.util.Try(
      currentAnchor(spark, mvRoot, readDef(spark, mvRoot))).toOption
      .flatten
    VersionedTable.commit(spark, mvRoot,
      VersionedTable.read(spark, mvRoot, Some(v)), v,
      txn = Some(w.toLong), txnAppId = Some(TxnAppId), op = "compact",
      extraMetaLines = anchor.map(anchorMetaLine).toSeq)
  }

  def definition(spark: SparkSession, mvRoot: String): MvDef =
    readDef(spark, mvRoot)

  /** ROLL the view UP to a coarser key set WITHOUT another
    * maintenance pipeline: every accumulator the view stores is
    * ASSOCIATIVE (decimal sums, counts, min/max, HLL unions), so any
    * GROUP BY over a SUBSET of the view's keys is answerable from
    * the |groups|-sized accumulator table — O(view groups), never a
    * base scan, and EXACT for COUNT/SUM/AVG (the same decimal
    * contract refresh keeps; note a naive `AVG(avg_col)` over the
    * served columns would be wrong — this is why the accumulators
    * ride behind the serve columns). MIN/MAX/HLL roll up by
    * min/max/union with their usual insert-only caveats inherited
    * from the view itself. `version` time-travels the rollup to an
    * older refresh watermark. The cube of dashboards from ONE
    * maintained view: maintain (lang, source), serve lang, source,
    * and () for free. */
  def rollup(spark: SparkSession, mvRoot: String, keys: Seq[String],
      version: Option[Int] = None): DataFrame = {
    val d = readDef(spark, mvRoot)
    val have = d.keys.map(_.toLowerCase)
    val bad = keys.filterNot(k => have.contains(k.toLowerCase))
    require(bad.isEmpty, s"rollup keys ${bad.mkString(", ")} are not " +
      s"among the view's group keys ${d.keys.mkString(", ")} — a " +
      "FINER grouping needs the base (the view folded those rows)")
    val coarse = d.copy(keys = keys)
    val acc = VersionedTable.read(spark, mvRoot, version)
      .select(d.keys.map(col) ++ accColNames(d).map(col): _*)
    // an all-keys "rollup" is just the view; re-grouping is harmless
    // but the empty-keys global rollup needs the no-key groupBy path
    // — and, like SQL's global aggregation, always yields its one
    // row (COUNT 0 over an empty or fully-deleted view), so the
    // cnt>0 group filter only applies when keys remain. Serve ONLY
    // the user-facing columns — a rollup result is never committed,
    // so the __mv_* accumulators stay behind the curtain
    foldAccumulators(acc, coarse, dropEmpty = keys.nonEmpty)
      .select(keys.map(col) ++ servedCols(coarse): _*)
  }

  /** Publish this view's refresh watermark into the BASE's consumer
    * registry ([[VersionedTable.publishConsumerFloor]]) under the id
    * `mv:<view-dir-name>` — the one-call spelling of the retention
    * convention for views: a base vacuum keeping versions ≥ the
    * published floor can never break the next refresh's delta read.
    * Deliberately NOT automatic on refresh (a registry commit per
    * refresh would tax the commit-to-dashboard path for a
    * capacity-planning signal); call it at whatever cadence
    * retention planning reviews `$retention`. */
  def publishFloor(spark: SparkSession, mvRoot: String): Unit = {
    val d = readDef(spark, mvRoot)
    VersionedTable.publishConsumerFloor(spark, d.base,
      floorConsumerId(mvRoot), watermark(spark, mvRoot))
  }

  /** The registry id [[publishFloor]] publishes under: the view's
    * leaf name for readability PLUS a full-path hash for identity —
    * two views over the same base whose roots merely share a leaf
    * name (`/a/daily`, `/b/daily`) must never overwrite each other's
    * floors (the starved one would read as unobjecting). */
  def floorConsumerId(mvRoot: String): String = {
    val p = new org.apache.hadoop.fs.Path(mvRoot)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(p.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    s"mv:${p.getName}-$h"
  }

  // ---- internals ---------------------------------------------------

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def requireNumeric(f: StructField): Unit = f.dataType match {
    case _: NumericType => ()
    case t => throw new IllegalArgumentException(
      s"SUM/AVG need a numeric column; '${f.name}' is ${t.sql}")
  }
  private def requireOrderable(f: StructField): Unit = f.dataType match {
    case _: NumericType | StringType | BinaryType | BooleanType |
        DateType | TimestampType | TimestampNTZType => ()
    case t => throw new IllegalArgumentException(
      s"MIN/MAX need an orderable atomic column; '${f.name}' is ${t.sql}")
  }

  /** Rows → accumulator rows. `signed` = `df` is a change feed
    * carrying `__mv_sign`; counts and sums then fold with the sign so
    * pre-images subtract exactly what their insert added. */
  private def accumulate(df: DataFrame, d: MvDef,
      signed: Boolean): DataFrame = {
    val s: Column = if (signed) col("__mv_sign") else lit(1L)
    def sumAccs(c: String, as: String): Seq[Column] = Seq(
      coalesce(sum(when(col(c).isNotNull, s * col(c).cast(SumType))),
        lit(0).cast(SumType)).cast(SumType).as(sumCol(as)),
      coalesce(sum(when(col(c).isNotNull, s)), lit(0L)).as(nnCol(as)))
    val fields = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val accs: Seq[Column] = sum(s).as(cntCol) +:
      d.aggs.flatMap {
        case MvCount(_) => Seq.empty[Column]
        case MvSum(c, as) => sumAccs(c, as)
        case MvAvg(c, as) => sumAccs(c, as)
        // insert-only accumulators never see a signed (pre-image) row:
        // refresh refuses non-append ranges before building the fold
        case MvMin(c, as) => Seq(min(col(c)).as(minCol(as)))
        case MvMax(c, as) => Seq(max(col(c)).as(maxCol(as)))
        case MvHllCount(c, as) => Seq(
          hll_sketch_agg(NdvStats.sketchInput(fields(c.toLowerCase)).get)
            .as(hllCol(as)))
      }
    df.groupBy(d.keys.map(col): _*).agg(accs.head, accs.tail: _*)
  }

  /** Re-group a union of accumulator frames (state ∪ delta) and drop
    * groups whose live row count reached zero. NULL keys group
    * natively — this is why the fold is a union+group, not a join.
    *
    * `dropEmpty = false` is the EMPTY-KEYS rollup's spelling: SQL's
    * global aggregation always yields exactly one row (COUNT 0 over
    * an empty input), so the lone no-key group must survive with its
    * count coalesced to 0 instead of being filtered — otherwise a
    * global rollup over a fully-deleted view would be distinguishable
    * from aggregating the base directly. Keyed folds keep the filter:
    * a keyed SQL aggregate has no row for a vanished group. */
  private def foldAccumulators(acc: DataFrame, d: MvDef,
      dropEmpty: Boolean = true): DataFrame = {
    val folded: Seq[Column] = sum(col(cntCol)).as(cntCol) +:
      d.aggs.flatMap {
        case MvCount(_) => Seq.empty[Column]
        case MvMin(_, as) => Seq(min(col(minCol(as))).as(minCol(as)))
        case MvMax(_, as) => Seq(max(col(maxCol(as))).as(maxCol(as)))
        case MvHllCount(_, as) => Seq(
          hll_union_agg(col(hllCol(as))).as(hllCol(as)))
        case a => Seq(
          sum(col(sumCol(a.as))).cast(SumType).as(sumCol(a.as)),
          sum(col(nnCol(a.as))).as(nnCol(a.as)))
      }
    val grouped = acc.groupBy(d.keys.map(col): _*)
      .agg(folded.head, folded.tail: _*)
    if (dropEmpty) grouped.filter(col(cntCol) > 0L)
    else grouped.withColumn(cntCol, coalesce(col(cntCol), lit(0L)))
  }

  // ---- follow re-arm marker ------------------------------------------
  //
  // `ALTER MATERIALIZED VIEW ... FOLLOW` owns its query lifecycle
  // through Spark's StreamingQueryManager — correct per-session, but a
  // crashed/restarted warehouse session silently stops following. The
  // `_follow` marker is the DURABLE half: FOLLOW arms it, STOP disarms
  // it (a crash does NOT — that asymmetry is the point), and
  // [[GraftCatalog.resumeFollows]] re-arms every marked view at
  // session start. No checkpoint is needed for exactly-once: each
  // refresh commits atomically with its watermark `#txn:` marker, so
  // a re-armed follow's first trigger folds only what the view
  // missed. Underscore-named like every control file — invisible to
  // data scans, atomic single-file create/delete.

  private val FollowMarker = "_follow"

  /** Record "this view should be followed" durably. Idempotent. */
  def armFollow(spark: SparkSession, mvRoot: String): Unit = {
    readDef(spark, mvRoot): Unit // not-a-view refuses loudly here
    val p = new Path(mvRoot, FollowMarker)
    val fs = VersionedTable.fsOf(spark, p)
    val out = fs.create(p, true)
    try out.write("v1".getBytes("UTF-8")) finally out.close()
  }

  /** Clear the durable follow intent (STOP's other half). Idempotent. */
  def disarmFollow(spark: SparkSession, mvRoot: String): Unit = {
    val p = new Path(mvRoot, FollowMarker)
    val fs = VersionedTable.fsOf(spark, p)
    fs.delete(p, false): Unit
  }

  /** Is the durable follow intent set? */
  def followArmed(spark: SparkSession, mvRoot: String): Boolean = {
    val p = new Path(mvRoot, FollowMarker)
    VersionedTable.fsOf(spark, p).exists(p)
  }

  // ---- definition persistence --------------------------------------
  //
  // Defs publish under VERSIONED names (`_mvdef.v<N>.json`, read the
  // highest), each landing by rename onto a name that never existed —
  // so there is no delete-then-rename window in which a crash leaves
  // a table with commits but no def (the legacy single-file scheme's
  // failure mode, whose only recovery was manual because create()
  // refuses an existing root). The legacy `_mvdef.json` remains a
  // read fallback for views created before the scheme.

  private def defPath(root: String) = new Path(root, DefFile)
  private val DefVersioned = """_mvdef\.v(\d+)\.json""".r

  /** Highest-index versioned def path (and its index), if any. */
  private def latestDefPath(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[(Path, Int)] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return None
    fs.listStatus(rootPath).toSeq.flatMap { st =>
      st.getPath.getName match {
        case DefVersioned(n) =>
          scala.util.Try(st.getPath -> n.toInt).toOption
        case _ => None
      }
    }.sortBy(_._2).lastOption
  }

  private def writeDef(spark: SparkSession, root: String, d: MvDef): Unit = {
    val j = JObject(
      "v" -> JInt(1),
      "base" -> JString(d.base),
      "anchor" -> d.anchor.map { case (v, fp) =>
        JObject("version" -> JInt(v), "fp" -> JString(fp)): JValue
      }.getOrElse(JNothing),
      "where" -> d.where.map(JString(_): JValue).getOrElse(JNothing),
      "keys" -> JArray(d.keys.map(JString(_)).toList),
      "aggs" -> JArray(d.aggs.map {
        case MvCount(as) => JObject("op" -> JString("count"),
          "as" -> JString(as))
        case MvSum(c, as) => JObject("op" -> JString("sum"),
          "col" -> JString(c), "as" -> JString(as),
          "long" -> JBool(d.serveLong(as)))
        case MvAvg(c, as) => JObject("op" -> JString("avg"),
          "col" -> JString(c), "as" -> JString(as))
        case MvMin(c, as) => JObject("op" -> JString("min"),
          "col" -> JString(c), "as" -> JString(as))
        case MvMax(c, as) => JObject("op" -> JString("max"),
          "col" -> JString(c), "as" -> JString(as))
        case MvHllCount(c, as) => JObject("op" -> JString("hllcount"),
          "col" -> JString(c), "as" -> JString(as))
      }.toList))
    val fs = VersionedTable.fsOf(spark, new Path(root))
    val next = latestDefPath(fs, root).map(_._2).getOrElse(0) + 1
    val p = new Path(root, s"_mvdef.v$next.json")
    val tmp = new Path(root,
      s"._mvdef.v$next.json.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(JsonMethods.compact(JsonMethods.render(j))
      .getBytes("UTF-8"))
    finally out.close()
    // the target name is FRESH, so the publish is a single atomic
    // rename — no displace window; a concurrent writer racing the
    // same index loses the rename and fails loudly
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      sys.error(s"could not publish $p")
    }
  }

  private def readDef(spark: SparkSession, root: String): MvDef = {
    val fs = VersionedTable.fsOf(spark, new Path(root))
    val p = latestDefPath(fs, root).map(_._1).getOrElse(defPath(root))
    require(fs.exists(p), s"$root is not a materialized view (no $DefFile)")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val j = JsonMethods.parse(text)
    require((j \ "v") == JInt(1), s"unknown mvdef version in $p")
    val base = (j \ "base") match { case JString(s) => s
      case _ => sys.error(s"malformed $p: no base") }
    val anchor = (j \ "anchor") match {
      case JObject(_) =>
        ((j \ "anchor" \ "version"), (j \ "anchor" \ "fp")) match {
          case (JInt(v), JString(fp)) => Some(v.toInt -> fp)
          case _ => sys.error(s"malformed $p: bad anchor")
        }
      case _ => None
    }
    val where = (j \ "where") match {
      case JString(w) => Some(w)
      case _ => None
    }
    val keys = (j \ "keys") match {
      case JArray(ks) => ks.collect { case JString(s) => s }
      case _ => sys.error(s"malformed $p: no keys") }
    var serveLong = Set.empty[String]
    val aggs = (j \ "aggs") match {
      case JArray(as) => as.map { a =>
        val name = (a \ "as") match { case JString(s) => s
          case _ => sys.error(s"malformed $p: agg without as") }
        (a \ "op") match {
          case JString("count") => MvCount(name)
          case JString("sum") =>
            if ((a \ "long") == JBool(true)) serveLong += name
            MvSum((a \ "col") match { case JString(c) => c
              case _ => sys.error(s"malformed $p: sum without col") }, name)
          case JString("avg") =>
            MvAvg((a \ "col") match { case JString(c) => c
              case _ => sys.error(s"malformed $p: avg without col") }, name)
          case JString("min") =>
            MvMin((a \ "col") match { case JString(c) => c
              case _ => sys.error(s"malformed $p: min without col") }, name)
          case JString("max") =>
            MvMax((a \ "col") match { case JString(c) => c
              case _ => sys.error(s"malformed $p: max without col") }, name)
          case JString("hllcount") =>
            MvHllCount((a \ "col") match { case JString(c) => c
              case _ => sys.error(s"malformed $p: hllcount without col")
            }, name)
          case other => sys.error(s"malformed $p: unknown op $other")
        }
      }
      case _ => sys.error(s"malformed $p: no aggs")
    }
    MvDef(base, keys, aggs, serveLong, anchor, where)
  }
}
