package graft.cga

import java.util.Random

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Genome

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
  * Per-iteration physical shape — contrast with the reference's
  * map/shuffle/reduce + three HDFS side channels:
  *   1. `sample`: narrow map, each split draws its T candidate
  *      sub-genomes in place (no shuffle, no tagged-union records);
  *   2. `candidateTotals`: T per-candidate popcount sums as ONE
  *      partial+final aggregate — T is a driver-side constant, so the
  *      per-candidate sums are T columns, not a groupBy key: no
  *      exchange at all, replacing the reference's global/<taskId>
  *      side files + findWinner() re-read (:126-164,195-260);
  *   3. winner/loser argmax/argmin over T numbers on the driver,
  *      closed over by the update (a literal broadcast — replaces the
  *      reference's static `firstTime` JVM-reuse hazard, :177);
  *   4. `update`: narrow map, per-bit ±delta nudge + in-band count.
  * Zero wide shuffles per iteration; the only cluster round-trip is
  * the totals aggregation — the algorithmic minimum (a global
  * tournament needs a global sum).
  */
object Cga {

  /** Column expr: total set bits of a bit-packed Array[Long] (native
    * codegen'd expression, graft.functions.PopCountArray). */
  private def popcountArray(c: Column): Column =
    graft.functions.PopCountArray.popcountArray(c)

  /** Reference op 15 (InitialCGAMapper, CGA.java:38-67): every cell
    * starts at p = 0.5. */
  def initVector(spark: SparkSession, cfg: CgaConfig): Dataset[VectorSplit] = {
    import spark.implicits._
    val bits = cfg.splitBits
    spark.range(0L, cfg.numSplits.toLong, 1L,
        math.min(cfg.numSplits, spark.sparkContext.defaultParallelism))
      .map(id => VectorSplit(id, Array.fill(bits)(0.5)))
  }

  /** Per-partition RNG for iteration `iteration` — (seed, iteration,
    * partition)-keyed so retries and cache evictions recompute
    * identical draws on both the Dataset and RDD paths. */
  private def iterationRng(seed: Long, iteration: Int): Random =
    new Random(seed * 6364136223846793005L + iteration * 9973L +
      TaskContext.getPartitionId())

  /** The sampling kernel for one split (shared by the Dataset operator
    * and the RDD iteration core so the two paths cannot diverge):
    * draw T candidate sub-genomes, bit b set with probability probs(b).
    * The reference's `abs(nextLong) <= fixedPointProb` draw is the
    * fixed-point spelling of `nextDouble < p`. */
  private def sampleSplit(vs: VectorSplit, rng: Random, t: Int): SampledSplit = {
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

  /** Reference op 16 (CGAMapper, CGA.java:70-124): sample T candidate
    * sub-genomes per split. Narrow (no shuffle); seeded per
    * (iteration, partition). */
  def sample(vectors: Dataset[VectorSplit], cfg: CgaConfig, iteration: Int)
      : Dataset[SampledSplit] = {
    import vectors.sparkSession.implicits._
    val t = cfg.tournamentSize
    val seed = cfg.seed
    vectors.mapPartitions { it =>
      val rng = iterationRng(seed, iteration)
      it.map(vs => sampleSplit(vs, rng, t))
    }
  }

  /** Reference op 17+18 front half (CGA.java:126-164 side files +
    * :195-260 findWinner re-read): per-candidate total ones across all
    * splits, as T sum columns in one partial+final aggregate. */
  def candidateTotals(sampled: Dataset[SampledSplit], cfg: CgaConfig): Array[Long] = {
    val t = cfg.tournamentSize
    val sums = (0 until t).map(l =>
      sum(popcountArray(col("candidates").getItem(l))).as(s"c$l"))
    val row = sampled.agg(sums.head, sums.tail: _*).head()
    (0 until t).map(row.getLong).toArray
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
    * split, shared by `update` and the RDD iteration core: per bit where
    * winner and loser disagree, nudge p by ±delta toward the winner; p
    * clamped to [0,1] (the reference lets its fixed-point cells drift
    * past the representable range — clamping is the well-defined
    * spelling of the same sampling behavior). Returns the updated split
    * and its count of cells still in the unconverged band
    * [lLimit, uLimit] (op 20's per-task side write + driver sum,
    * :310-324,443-496). */
  private def updateSplit(ss: SampledSplit, winner: Int, loser: Int,
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

  /** Reference op 19 over the Dataset: a narrow map, since the
    * candidates are already co-located with their split. */
  def update(sampled: Dataset[SampledSplit], winner: Int, loser: Int,
      cfg: CgaConfig): Dataset[(VectorSplit, Long)] = {
    import sampled.sparkSession.implicits._
    val delta = cfg.delta
    val lLim = cfg.lLimit
    val uLim = cfg.uLimit
    sampled.map(ss => updateSplit(ss, winner, loser, delta, lLim, uLim))
  }

  /** Save/load the probability vector durably (reference op 22's
    * generation-dir continuation, CGA.java:503-519,360-366). */
  def saveVector(v: Dataset[VectorSplit], root: String, iteration: Int): Unit =
    v.write.mode("overwrite").parquet(s"$root/iter=$iteration")

  def loadVector(spark: SparkSession, root: String, iteration: Int): Dataset[VectorSplit] = {
    import spark.implicits._
    spark.read.parquet(s"$root/iter=$iteration").as[VectorSplit]
  }

  def latestIteration(spark: SparkSession, root: String): Option[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("iter=") => s.drop(5).toInt }
      .maxOption
  }

  /** Reference ops 11/20/22 (driver loop CGA.java:443-496): iterate
    * until no cell is in the unconverged band. `durableRoot` persists
    * the vector every `saveEvery` iterations and resumes a rerun from
    * the latest saved one.
    *
    * The iteration DRIVER runs on the RDD core: a cGA iteration is two
    * tiny cluster round-trips over an already-partitioned vector, and
    * at hundreds of iterations per run the per-iteration Catalyst
    * analyze/optimize/codegen cycle of a Dataset plan dominates wall
    * time (~0.25 s/iteration vs ~5 ms of actual work — measured round
    * 1: 12.5 s of the 36.7 s bench total was this planning latency).
    * Tight iterative loops on a stable partitioning are the one case
    * where Spark's own libraries (MLlib, GraphX) also drop to RDDs —
    * the Dataset operators above (`sample`/`candidateTotals`/`update`)
    * remain the declarative spelling and share their kernels
    * (`sampleSplit`/`updateSplit`) with this loop, so the two paths
    * compute identical trajectories (CgaSpec asserts it).
    *
    * Exactly ONE job per iteration: iteration i's totals reduce ALSO
    * sums iteration i−1's unconverged-cell counts, which ride the
    * state rows from the (narrow) update map — the convergence read
    * that used to be its own job is piggybacked one iteration late.
    * The trajectory is IDENTICAL to the two-job spelling (same
    * (seed, iteration, partition)-keyed draws, same updates, same
    * exit iteration — CgaSpec pins it); the only extra work is one
    * discarded deterministic sample at the detection iteration, which
    * nothing observes. All RNG is (seed, iteration, partition)-keyed,
    * so a lost partition only costs a deterministic recompute, never
    * a different answer. localCheckpoint every 20 iterations bounds
    * lineage depth. */
  def runLoop(spark: SparkSession, cfg: CgaConfig,
      durableRoot: Option[String] = None, saveEvery: Int = 10): CgaResult = {
    import spark.implicits._
    val sc = spark.sparkContext
    val parts = math.min(cfg.numSplits, sc.defaultParallelism)
    // a resumed vector takes the uninterrupted run's layout, the splits
    // in id order sliced as `sc.range` slices them: the draws are keyed
    // by partition, and a parquet read places its files by size
    val resumed = durableRoot.flatMap(r => latestIteration(spark, r).map(i =>
      (sc.parallelize(loadVector(spark, r, i).collect().sortBy(_.splitId).toSeq, parts), i)))
    val bits = cfg.splitBits
    // state rows carry (split, unconvergedCellsFromProducingUpdate);
    // init/resumed rows carry the -1 sentinel (unknown — never
    // terminates the loop, exactly the sequential spelling's
    // unConverged = -1 start)
    var state: org.apache.spark.rdd.RDD[(VectorSplit, Long)] =
      resumed.map(_._1)
        .getOrElse(sc.range(0L, cfg.numSplits.toLong, 1L, parts)
          .map(id => VectorSplit(id, Array.fill(bits)(0.5))))
        .map(v => (v, -1L))
        .persist(StorageLevel.MEMORY_AND_DISK)
    var it = resumed.map(_._2).getOrElse(0)
    var winnerFitness = -1L
    var unConverged = -1L
    val t = cfg.tournamentSize
    val seed = cfg.seed
    val (delta, lLim, uLim) = (cfg.delta, cfg.lLimit, cfg.uLimit)
    var prevSampled: Option[org.apache.spark.rdd.RDD[_]] = None
    var done = false
    while (!done && it < cfg.maxIterations) {
      val iteration = it
      // sampled rows keep the previous update's unconverged counts so
      // the totals job below can fold them in
      val sampled = state.mapPartitions { vs =>
        val rng = iterationRng(seed, iteration)
        vs.map { case (v, u) => (sampleSplit(v, rng, t), u) }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // THE job: per-candidate popcount totals (partial per partition
      // + driver combine — the reference's global/<taskId> side files
      // + findWinner re-read, CGA.java:126-164,195-260) fused with the
      // previous iteration's convergence sum
      val (totals, prevUnconv) = {
        val (acc, u, unknown) = sampled.mapPartitions { ss =>
          val acc = new Array[Long](t)
          var u = 0L
          var unknown = false
          ss.foreach { case (s, pu) =>
            if (pu < 0L) unknown = true else u += pu
            var l = 0
            while (l < t) { acc(l) += Genome.popcount(s.candidates(l)); l += 1 }
          }
          Iterator.single((acc, u, unknown))
        }.reduce { (a, b) =>
          var i = 0; while (i < t) { a._1(i) += b._1(i); i += 1 }
          (a._1, a._2 + b._2, a._3 || b._3)
        }
        (acc, if (unknown) -1L else u)
      }
      // previous iteration's sampled blocks: its update (= state) has
      // now been materialized through this reduce
      prevSampled.foreach(_.unpersist(blocking = false))
      prevSampled = None
      if (prevUnconv == 0L) {
        // the PREVIOUS update converged — this iteration's sample is
        // discarded unobserved; winnerFitness/it already describe the
        // converged iteration (the sequential spelling's exit state)
        unConverged = 0L
        sampled.unpersist(blocking = false)
        // converged-save parity with the sequential spelling's
        // unConverged == 0 save (overwrite-idempotent if it already
        // saved on the cadence)
        durableRoot.foreach(r =>
          saveVector(spark.createDataset(state.map(_._1)), r, it))
        done = true
      } else {
        unConverged = prevUnconv
        val (w, l) = pickWinnerLoser(totals)
        winnerFitness = totals(w)
        val updated = sampled
          .map { case (ss, _) => updateSplit(ss, w, l, delta, lLim, uLim) }
          .persist(StorageLevel.MEMORY_AND_DISK)
        state.unpersist(blocking = false)
        state = updated
        prevSampled = Some(sampled)
        it += 1
        if (it % 20 == 0) { state.localCheckpoint(); () }
        durableRoot.foreach { r =>
          if (it % saveEvery == 0)
            saveVector(spark.createDataset(state.map(_._1)), r, it)
        }
      }
    }
    if (!done && it >= cfg.maxIterations) {
      // exited on the iteration budget: the LAST update's counts were
      // never folded into a reduce — one final tiny job keeps the
      // converged flag exact (the sequential spelling read it every
      // iteration)
      val (u, unknown) = state.mapPartitions { rows =>
        var s = 0L
        var unk = false
        rows.foreach { case (_, pu) => if (pu < 0L) unk = true else s += pu }
        Iterator.single((s, unk))
      }.reduce((a, b) => (a._1 + b._1, a._2 || b._2))
      unConverged = if (unknown) -1L else u
      if (unConverged == 0L)
        durableRoot.foreach(r =>
          saveVector(spark.createDataset(state.map(_._1)), r, it))
    }
    prevSampled.foreach(_.unpersist(blocking = false))
    val finalVec = state.map(_._1).collect().sortBy(_.splitId).flatMap(_.probs)
    // collect first, THEN release the loop's last cached RDD: a long
    // session (bench reps, library callers) must not strand cached
    // blocks until the ContextCleaner happens to reap them
    state.unpersist(blocking = false)
    CgaResult(finalVec, winnerFitness, it, unConverged == 0L)
  }
}
