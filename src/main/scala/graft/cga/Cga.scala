package graft.cga

import java.util.Random

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.{Genome, Lcg48, Saves}

/** One split of the distributed probability vector: `probs(b)` is the
  * probability that gene bit b of this split is 1. The reference stores
  * these as fixed-point int64 in [0, Long.MAX_VALUE]
  * (/root/reference/src/edu/illinois/ga/CGA.java:56-66); the encoding
  * was a Writable artifact, we use plain doubles in [0,1]. */
case class VectorSplit(splitId: Long, probs: Array[Double])

/** A vector split with its T sampled candidate sub-genomes for one
  * iteration, kept CO-LOCATED with the split. The reference emitted
  * candidates as separate tagged records and shuffled them back
  * together by splitId (/root/reference/src/edu/illinois/ga/CGA.java:95-124,283);
  * keeping them in one row removes that shuffle entirely. */
case class SampledSplit(splitId: Long, probs: Array[Double],
    candidates: Array[Array[Long]])

/** cGA run configuration, mirroring the reference's conf knobs
  * (cga.{lLimit,uLimit,tournamentSize,numSplits,population},
  * /root/reference/src/edu/illinois/ga/CGA.java:350-376).
  *
  * @param nBits          total probability-vector length (gene count)
  * @param numSplits      how many splits the vector is sharded into
  * @param tournamentSize T — candidates sampled per iteration
  * @param population     n in delta = 1/n, the per-bit update step
  *                       (reference: delta = Long.MAX_VALUE / n, :276)
  * @param lLimit,uLimit  the unconverged band: p in [lLimit, uLimit]
  *                       counts as not-yet-converged (reference
  *                       defaults 0.1 / 0.501, :350-352)
  */
case class CgaConfig(
    nBits: Int,
    numSplits: Int,
    tournamentSize: Int,
    population: Long,
    lLimit: Double = 0.1,
    uLimit: Double = 0.501,
    seed: Long = 42L,
    maxIterations: Int = 500) {
  require(nBits % numSplits == 0, "nBits must divide evenly into splits")
  def splitBits: Int = nBits / numSplits
  def delta: Double = 1.0 / population.toDouble
}

/** Result of a cGA run. */
case class CgaResult(
    vector: Array[Double],
    winnerFitness: Long,
    iterations: Int,
    converged: Boolean)

/** Compact genetic algorithm re-expressed Spark-first
  * (reference: /root/reference/src/edu/illinois/ga/CGA.java; op-by-op
  * mapping in SURVEY.md §2.1 ops 15-22).
  *
  * An iteration is one narrow map and one job over the vector's
  * partitions, where the reference ran a Hadoop job plus three HDFS side
  * channels:
  *   1. `Step`, the map: each split takes the previous iteration's
  *      winner/loser update (op 19, counting its cells still in the
  *      unconverged band, op 20), then draws this iteration's T
  *      candidate sub-genomes in place (op 16): no shuffle, no
  *      tagged-union records;
  *   2. `Summary`, the job: per partition the T candidate popcount
  *      totals and the unconverged count, combined on the driver
  *      (ops 17-18's side files + findWinner re-read, op 20's sum);
  *   3. winner/loser argmax/argmin over T numbers on the driver, handed
  *      to the next `Step` (replaces the reference's static `firstTime`
  *      JVM-reuse hazard, :177).
  * Zero shuffles; the one cluster round-trip per iteration is the
  * algorithmic minimum (a global tournament needs a global sum). The
  * test-scope `CgaReference` spells the same ops as Dataset operators
  * over the same kernels (`sampleSplit`/`updateSplit`).
  *
  * Nothing the loop hands Spark per iteration is a Scala lambda: the map
  * and the job's function are named classes. Spark's closure cleaner
  * reads and parses the class file of every lambda it is given (and of
  * the lambdas `reduce`/`count` wrap around it) on the driver, which
  * cost about as long as the iteration's job; a named function is left
  * as it is.
  */
object Cga {

  /** The RNG split `splitId` draws iteration `iteration`'s candidates
    * from, fresh for each split — (seed, iteration, split)-keyed, as
    * the reference gives each split its own mapper: retries, cache
    * evictions and any partition layout recompute identical draws. */
  private[cga] def iterationRng(seed: Long, iteration: Int, splitId: Long): Random =
    new Lcg48(seed * 6364136223846793005L + iteration * 9973L + splitId)

  /** Candidate bit draws (nBits × T per iteration) worth one task more.
    * The vector is laid out over as many partitions as this takes, at
    * most one per split and per core. A task costs about 0.27 ms of job
    * latency (on 4 CPUs, running a 64-bit, T = 8 vector's iterations as
    * 1 task instead of 4 saved about 0.8 ms each), and `sampleSplit`
    * about 7 ns a draw on the same host, so one task's overhead buys
    * about 37k draws: 2^15. */
  val DrawsPerTask: Long = 1L << 15

  /** The partition count `runLoop` lays `cfg`'s vector out over on
    * `cores` cores: sized by the iteration's draws. */
  private[cga] def partitions(cfg: CgaConfig, cores: Int): Int = {
    val draws = cfg.nBits.toLong * cfg.tournamentSize
    math.max(1L, math.min((draws + DrawsPerTask - 1) / DrawsPerTask,
      math.min(cfg.numSplits, cores).toLong)).toInt
  }

  /** Reference op 16 (CGAMapper, CGA.java:70-124), the sampling kernel
    * for one split: draw T candidate sub-genomes, bit b set with
    * probability probs(b). The reference's `abs(nextLong) <=
    * fixedPointProb` draw is the fixed-point spelling of `nextDouble < p`. */
  private[cga] def sampleSplit(vs: VectorSplit, rng: Random, t: Int): SampledSplit = {
    val words = Genome.words(vs.probs.length)
    val cands = Array.ofDim[Array[Long]](t)
    var l = 0
    while (l < t) {
      val g = new Array[Long](words)
      var b = 0
      while (b < vs.probs.length) {
        if (rng.nextDouble() < vs.probs(b)) g(b / 64) |= (1L << (b % 64))
        b += 1
      }
      cands(l) = g
      l += 1
    }
    SampledSplit(vs.splitId, vs.probs, cands)
  }

  /** Reference op 18 (CGA.java:236-258): winner = argmax, loser =
    * argmin, first index on ties (the reference's strict-comparison
    * loops; minus its static-state carryover bug — SURVEY §2.1
    * "semantic decisions"). */
  def pickWinnerLoser(totals: Array[Long]): (Int, Int) = {
    var w = 0; var l = 0
    var i = 1
    while (i < totals.length) {
      if (totals(i) > totals(w)) w = i
      if (totals(i) < totals(l)) l = i
      i += 1
    }
    (w, l)
  }

  /** Reference op 19 (CGA.java:262-309), the update kernel for one
    * split: per bit where winner and loser disagree, nudge p by ±delta
    * toward the winner; p clamped to [0,1] (the reference lets its
    * fixed-point cells drift past the representable range — clamping is
    * the well-defined spelling of the same sampling behavior). Returns
    * the updated split and its count of cells still in the unconverged
    * band [lLimit, uLimit] (op 20's per-task side write + driver sum,
    * :310-324,443-496). */
  private[cga] def updateSplit(ss: SampledSplit, winner: Int, loser: Int,
      delta: Double, lLim: Double, uLim: Double): (VectorSplit, Long) = {
    val w = ss.candidates(winner)
    val l = ss.candidates(loser)
    val probs = ss.probs.clone()
    var unConverged = 0L
    var b = 0
    while (b < probs.length) {
      val wb = (w(b / 64) >>> (b % 64)) & 1L
      val lb = (l(b / 64) >>> (b % 64)) & 1L
      if (wb != lb) {
        val p = probs(b) + (if (wb == 1L) delta else -delta)
        probs(b) = math.min(1.0, math.max(0.0, p))
      }
      if (probs(b) >= lLim && probs(b) <= uLim) unConverged += 1
      b += 1
    }
    (VectorSplit(ss.splitId, probs), unConverged)
  }

  /** Save/load the probability vector durably (reference op 22's
    * generation-dir continuation, CGA.java:503-519,360-366). */
  def saveVector(v: Dataset[VectorSplit], root: String, iteration: Int): Unit =
    v.write.mode("overwrite").parquet(s"$root/iter=$iteration")

  def loadVector(spark: SparkSession, root: String, iteration: Int): Dataset[VectorSplit] = {
    import spark.implicits._
    spark.read.parquet(s"$root/iter=$iteration").as[VectorSplit]
  }

  /** The latest completely saved iteration under `root`, if any. */
  def latestIteration(spark: SparkSession, root: String): Option[Int] =
    Saves.latest(spark, root, "iter=")

  /** A loop row: a split with its iteration's candidates, and the
    * unconverged-cell count of the update that produced the split (-1:
    * unknown, as for an initial or resumed split). */
  private type Row = (SampledSplit, Long)

  /** An iteration's map: the update by `winner`/`loser` (none when
    * `winner` < 0), then `t` candidates drawn with each split's RNG of
    * iteration `iteration`. */
  private final class Step(cfg: CgaConfig, iteration: Int, winner: Int, loser: Int, t: Int)
      extends (Iterator[Row] => Iterator[Row]) with Serializable {
    def apply(rows: Iterator[Row]): Iterator[Row] =
      rows.map { case (ss, u) =>
        val (v, un) =
          if (winner < 0) (VectorSplit(ss.splitId, ss.probs), u)
          else updateSplit(ss, winner, loser, cfg.delta, cfg.lLimit, cfg.uLimit)
        (sampleSplit(v, iterationRng(cfg.seed, iteration, v.splitId), t), un)
      }
  }

  /** A partition's share of an iteration's job: its rows' T candidate
    * popcount totals, their unconverged-cell sum (-1 if one is
    * unknown) and, if `keep`, the splits. */
  private final class Summary(t: Int, keep: Boolean)
      extends ((TaskContext, Iterator[Row]) => (Array[Long], Long, Array[VectorSplit]))
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[Row]): (Array[Long], Long, Array[VectorSplit]) = {
      val totals = new Array[Long](t)
      var unConverged = 0L
      val splits = ArrayBuffer[VectorSplit]()
      rows.foreach { case (ss, u) =>
        unConverged = if (unConverged < 0L || u < 0L) -1L else unConverged + u
        var l = 0
        while (l < t) { totals(l) += Genome.popcount(ss.candidates(l)); l += 1 }
        if (keep) splits += VectorSplit(ss.splitId, ss.probs)
      }
      (totals, unConverged, splits.toArray)
    }
  }

  /** Runs `Summary` over `rows` as one job and combines the partitions'
    * shares on the driver; the splits come back in id order. */
  private def summarize(rows: RDD[Row], t: Int, keep: Boolean)
      : (Array[Long], Long, Array[VectorSplit]) = {
    val totals = new Array[Long](t)
    var unConverged = 0L
    val splits = ArrayBuffer[VectorSplit]()
    rows.sparkContext.runJob(rows, new Summary(t, keep), rows.partitions.indices,
      (_: Int, share: (Array[Long], Long, Array[VectorSplit])) => {
        var l = 0
        while (l < t) { totals(l) += share._1(l); l += 1 }
        unConverged = if (unConverged < 0L || share._2 < 0L) -1L else unConverged + share._2
        splits ++= share._3
      })
    (totals, unConverged, splits.toArray.sortBy(_.splitId))
  }

  /** Reference ops 11/20/22 (driver loop CGA.java:443-496): iterate
    * until no cell is in the unconverged band. `durableRoot` persists
    * the vector every `saveEvery` iterations and resumes a rerun from
    * the latest saved one. `onIteration(iteration, winnerFitness,
    * unConverged, millis)` is the reference's
    * `CGA:<it>:<pop>:<best>:<tot>:<strLen>:<un>:<millis>` record.
    *
    * The loop runs on the RDD core: at hundreds of iterations per run
    * the per-iteration Catalyst analyze/optimize/codegen cycle of a
    * Dataset plan would dominate (~0.25 s/iteration vs ~5 ms of actual
    * work — measured round 1). Tight iterative loops on a stable
    * partitioning are the one case where Spark's own libraries (MLlib,
    * GraphX) also drop to RDDs.
    *
    * Exactly ONE job per iteration: a `Step` applies iteration i−1's
    * update and draws iteration i's sample, and its rows carry the
    * update's unconverged counts, so iteration i's job also reads
    * iteration i−1's convergence, one iteration late. The trajectory is
    * the sequential spelling's (same (seed, iteration, split)-keyed
    * draws, same updates, same exit iteration — CgaSpec pins it against
    * `CgaReference`); the only extra work is one discarded deterministic
    * sample at the detection iteration, which nothing observes. For the
    * same reason an iteration's record fires one job late, with the
    * millis of its own job and driver step. Each iteration's rows are
    * persisted and the previous ones released; localCheckpoint every 20
    * iterations bounds lineage depth.
    *
    * As the draws are keyed by split, the partition layout is free: the
    * vector is laid out over `partitions(cfg, cores)` partitions, so a
    * small vector's job is one task and a large one's spreads over the
    * cores. */
  def runLoop(spark: SparkSession, cfg: CgaConfig,
      durableRoot: Option[String] = None, saveEvery: Int = 10,
      onIteration: (Int, Long, Long, Long) => Unit = (_, _, _, _) => ()): CgaResult = {
    import spark.implicits._
    val sc = spark.sparkContext
    val t = cfg.tournamentSize
    val resumed = durableRoot.flatMap(r => latestIteration(spark, r).map(i =>
      (loadVector(spark, r, i).collect(), i)))
    val start = resumed.fold(0)(_._2)
    val vector = resumed.fold(Array.tabulate(cfg.numSplits)(id =>
      VectorSplit(id.toLong, Array.fill(cfg.splitBits)(0.5))))(_._1)
    var rows: RDD[Row] = sc.parallelize(
      vector.toSeq.map(v => (SampledSplit(v.splitId, v.probs, Array.empty), -1L)),
      partitions(cfg, sc.defaultParallelism))
    def save(r: => RDD[Row], it: Int): Unit = durableRoot.foreach(root =>
      saveVector(spark.createDataset(r.map { case (ss, _) => VectorSplit(ss.splitId, ss.probs) }),
        root, it))
    // the update `rows` still owe: the last winner and loser
    var (winner, loser) = (-1, -1)
    var winnerFitness = -1L
    var unConverged = -1L
    var it = start
    var stepStart = System.nanoTime()
    var done = false
    while (!done && it < cfg.maxIterations) {
      val prev = rows
      rows = prev.mapPartitions(new Step(cfg, it, winner, loser, t))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (it > start && it % 20 == 0) { rows.localCheckpoint(); () }
      val (totals, u, _) = summarize(rows, t, keep = false)
      if (prev.getStorageLevel != StorageLevel.NONE) prev.unpersist(blocking = false)
      unConverged = u
      val now = System.nanoTime()
      if (it > start) onIteration(it, winnerFitness, u, (now - stepStart) / 1000000L)
      stepStart = now
      if (u == 0L) {
        // the previous update converged: this iteration's sample is
        // discarded unobserved, and `it`/`winnerFitness` describe the
        // converged iteration (the sequential spelling's exit state);
        // the converged vector is saved, unless the cadence just did
        winner = -1
        if (it % saveEvery != 0) save(rows, it)
        done = true
      } else {
        val (w, l) = pickWinnerLoser(totals)
        winner = w; loser = l
        winnerFitness = totals(w)
        it += 1
        if (it % saveEvery == 0)
          save(rows.mapPartitions(new Step(cfg, it, winner, loser, 0)), it)
      }
    }
    // the vector, with the owed update applied (a budget exit) — the
    // same job reads that update's convergence
    val last = if (winner < 0) rows else rows.mapPartitions(new Step(cfg, it, winner, loser, 0))
    val (_, u, splits) = summarize(last, 0, keep = true)
    if (winner >= 0) {
      unConverged = u
      onIteration(it, winnerFitness, u, (System.nanoTime() - stepStart) / 1000000L)
      if (u == 0L && it % saveEvery != 0) save(last, it)
    }
    // a long session (bench reps, library callers) must not strand
    // cached blocks until the ContextCleaner happens to reap them
    if (rows.getStorageLevel != StorageLevel.NONE) rows.unpersist(blocking = true)
    CgaResult(splits.flatMap(_.probs), winnerFitness, it, unConverged == 0L)
  }
}
