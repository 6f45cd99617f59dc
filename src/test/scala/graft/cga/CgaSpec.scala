package graft.cga

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.core.Genome

class CgaSpec extends SparkSpec {

  private val cfg = CgaConfig(nBits = 64, numSplits = 2, tournamentSize = 8,
    population = 20, seed = 42, maxIterations = 400)

  test("initVector: all cells 0.5, correct shard shape") {
    val v = CgaReference.initVector(spark, cfg).collect().sortBy(_.splitId)
    assert(v.length == cfg.numSplits)
    assert(v.forall(_.probs.length == cfg.splitBits))
    assert(v.forall(_.probs.forall(_ == 0.5)))
    assert(v.map(_.splitId).toSeq == (0L until cfg.numSplits).toSeq)
  }

  test("sample: T candidates per split, genome width matches, deterministic") {
    val v = CgaReference.initVector(spark, cfg)
    val s1 = CgaReference.sample(v, cfg, 3).collect().sortBy(_.splitId)
    assert(s1.forall(_.candidates.length == cfg.tournamentSize))
    assert(s1.forall(_.candidates.forall(_.length == Genome.words(cfg.splitBits))))
    val s2 = CgaReference.sample(v, cfg, 3).collect().sortBy(_.splitId)
    assert(s1.zip(s2).forall { case (a, b) =>
      a.candidates.zip(b.candidates).forall { case (x, y) => x.sameElements(y) }
    })
  }

  test("sample respects extreme probabilities") {
    import spark.implicits._
    val allOnes = spark.createDataset(Seq(
      VectorSplit(0L, Array.fill(32)(1.0)),
      VectorSplit(1L, Array.fill(32)(0.0))))
    val s = CgaReference.sample(allOnes, cfg.copy(nBits = 64, numSplits = 2), 0)
      .collect().sortBy(_.splitId)
    assert(s(0).candidates.forall(g => Genome.popcount(g) == 32L))
    assert(s(1).candidates.forall(g => Genome.popcount(g) == 0L))
  }

  test("candidateTotals matches driver-side popcount sums") {
    val v = CgaReference.initVector(spark, cfg)
    val sampled = CgaReference.sample(v, cfg, 1)
    val totals = CgaReference.candidateTotals(sampled, cfg)
    val local = sampled.collect()
    val expected = (0 until cfg.tournamentSize).map(l =>
      local.map(ss => Genome.popcount(ss.candidates(l))).sum).toArray
    assert(totals.toSeq == expected.toSeq)
  }

  test("pickWinnerLoser: argmax/argmin, first index on ties") {
    assert(Cga.pickWinnerLoser(Array(3L, 9L, 9L, 1L, 1L)) == (1, 3))
    assert(Cga.pickWinnerLoser(Array(5L)) == (0, 0))
  }

  test("update: hand-computed 2-bit example") {
    import spark.implicits._
    // probs = [0.5, 0.5]; winner bits = [1, 0], loser bits = [0, 0]
    // bit 0 differs -> +delta; bit 1 same -> untouched
    val c = CgaConfig(nBits = 2, numSplits = 1, tournamentSize = 2,
      population = 10) // delta = 0.1
    val ss = spark.createDataset(Seq(SampledSplit(0L, Array(0.5, 0.5),
      Array(Array(1L), Array(0L)))))
    val (vec, un) = CgaReference.update(ss, winner = 0, loser = 1, c).collect().head
    assert(math.abs(vec.probs(0) - 0.6) < 1e-12)
    assert(vec.probs(1) == 0.5)
    // band [0.1, 0.501]: 0.6 is out, 0.5 is in -> 1 unconverged
    assert(un == 1L)
  }

  test("update clamps to [0,1]") {
    import spark.implicits._
    val c = CgaConfig(nBits = 2, numSplits = 1, tournamentSize = 2,
      population = 2) // delta = 0.5
    val ss = spark.createDataset(Seq(SampledSplit(0L, Array(0.9, 0.1),
      Array(Array(1L), Array(2L))))) // winner=[1,0], loser=[0,1]
    val (vec, _) = CgaReference.update(ss, 0, 1, c).collect().head
    assert(vec.probs(0) == 1.0) // 0.9 + 0.5 clamped
    assert(vec.probs(1) == 0.0) // 0.1 - 0.5 clamped
  }

  test("RDD iteration core computes the same trajectory as the Dataset operators") {
    import spark.implicits._
    val n = 5
    // drive n iterations through the declarative Dataset operators
    var vectors = CgaReference.initVector(spark, cfg)
    for (it <- 0 until n) {
      val sampled = CgaReference.sample(vectors, cfg, it)
      val totals = CgaReference.candidateTotals(sampled, cfg)
      val (w, l) = Cga.pickWinnerLoser(totals)
      vectors = CgaReference.update(sampled, w, l, cfg).map(_._1)
    }
    val viaDataset = vectors.collect().sortBy(_.splitId).flatMap(_.probs)
    // runLoop (RDD core) stopped at the same iteration count
    val viaRdd = Cga.runLoop(spark, cfg.copy(maxIterations = n)).vector
    assert(viaDataset.toSeq == viaRdd.toSeq,
      "Dataset operators and the RDD loop core diverged")
  }

  test("runLoop converges on ONEMAX and pushes the vector up") {
    val r = Cga.runLoop(spark, cfg)
    assert(r.converged, s"did not converge in ${r.iterations} iterations")
    assert(r.vector.length == cfg.nBits)
    // ONEMAX pressure: most cells should have converged high
    val high = r.vector.count(_ > cfg.uLimit)
    assert(high > cfg.nBits / 2,
      s"only $high/${cfg.nBits} cells converged high")
    assert(r.winnerFitness > cfg.nBits / 2)
  }

  /** The sequential spelling of `runLoop` over `CgaReference`'s Dataset
    * operators: sample, totals, update, then read the update's
    * convergence, every iteration; with `parts`, the initial vector is
    * repartitioned to that many partitions, which every iteration keeps. */
  private def referenceRun(c: CgaConfig, parts: Option[Int] = None): CgaResult = {
    import spark.implicits._
    val init = CgaReference.initVector(spark, c)
    var vectors = parts.fold(init)(init.repartition(_))
    var it = 0
    var winnerFitness = -1L
    var unConverged = -1L
    while (unConverged != 0L && it < c.maxIterations) {
      val sampled = CgaReference.sample(vectors, c, it)
      val totals = CgaReference.candidateTotals(sampled, c)
      val (w, l) = Cga.pickWinnerLoser(totals)
      winnerFitness = totals(w)
      // the local checkpoint cuts the plan each iteration would extend
      val updated = CgaReference.update(sampled, w, l, c).localCheckpoint()
      unConverged = updated.collect().map(_._2).sum
      vectors = updated.map(_._1)
      it += 1
    }
    CgaResult(vectors.collect().sortBy(_.splitId).flatMap(_.probs), winnerFitness, it,
      unConverged == 0L)
  }

  test("runLoop takes the sequential Dataset spelling's trajectory to its exit") {
    val bench = CgaConfig(nBits = 64, numSplits = 4, tournamentSize = 8,
      population = 20, seed = 1000, maxIterations = 400)
    val configs = Seq(
      bench,
      // 8 splits over local[4]'s 4 partitions: two splits per partition
      bench.copy(numSplits = 8, seed = 7),
      bench.copy(tournamentSize = 2, seed = 11),
      // exits on its budget, before converging
      bench.copy(maxIterations = 10))
    val runs = configs.map { c =>
      val want = referenceRun(c)
      val got = Cga.runLoop(spark, c)
      val at = s"config $c"
      assert(got.iterations == want.iterations, at)
      assert(got.winnerFitness == want.winnerFitness, at)
      assert(got.converged == want.converged, at)
      assert(got.vector.toSeq == want.vector.toSeq, at)
      got
    }
    assert(runs.init.forall(_.converged) && !runs.last.converged)
  }

  test("runLoop takes the reference's trajectory over any partition layout of the vector") {
    // 8 splits: runLoop lays them out by work, the reference over 1, 2
    // and 8 partitions
    val c = CgaConfig(nBits = 64, numSplits = 8, tournamentSize = 8,
      population = 20, seed = 7, maxIterations = 400)
    val got = Cga.runLoop(spark, c)
    assert(got.converged)
    Seq(1, 2, 8).foreach { parts =>
      val want = referenceRun(c, Some(parts))
      val at = s"$parts partitions"
      assert(got.iterations == want.iterations, at)
      assert(got.winnerFitness == want.winnerFitness, at)
      assert(got.converged == want.converged, at)
      assert(got.vector.toSeq == want.vector.toSeq, at)
    }
  }

  test("runLoop sizes its partition count by the iteration's draws") {
    val sc = spark.sparkContext
    // the task count of each job of a run
    def tasksPerJob(c: CgaConfig): Seq[Int] = {
      val group = s"cga-task-count-${System.nanoTime()}"
      val tasks = new ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            tasks.add(e.stageInfos.map(_.numTasks).sum)
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "cGA task count")
        try Cga.runLoop(spark, c) finally sc.clearJobGroup()
        eventually(timeout(10.seconds), interval(100.millis)) {
          assert(tasks.size == sc.statusTracker.getJobIdsForGroup(group).length)
        }
      } finally sc.removeSparkListener(listener)
      tasks.asScala.toSeq
    }
    // the `ga` benchmark's vector: 64 bits × T = 8 draws, one task
    val bench = CgaConfig(nBits = 64, numSplits = 4, tournamentSize = 8,
      population = 20, seed = 1000, maxIterations = 400)
    val small = tasksPerJob(bench)
    assert(small.nonEmpty && small.forall(_ == 1), small)
    // 8 × DrawsPerTask draws: one task per split, at most one per core
    val large = bench.copy(nBits = Cga.DrawsPerTask.toInt, numSplits = 8, maxIterations = 3)
    val spread = tasksPerJob(large)
    assert(spread.nonEmpty &&
      spread.forall(_ == math.min(large.numSplits, sc.defaultParallelism)), spread)
  }

  test("runLoop runs one Spark job per iteration, plus the first and the final read") {
    val sc = spark.sparkContext
    def counted(c: CgaConfig): CgaResult = {
      val group = s"cga-job-count-${System.nanoTime()}"
      sc.setJobGroup(group, "cGA job count")
      val r = try Cga.runLoop(spark, c) finally sc.clearJobGroup()
      eventually(timeout(10.seconds), interval(100.millis)) {
        // converged: iterations + 1 loop jobs (the last reads the last
        // update's convergence) and the vector's read; on the budget
        // the final read also applies the last update
        assert(sc.statusTracker.getJobIdsForGroup(group).length ==
          r.iterations + (if (r.converged) 2 else 1))
      }
      r
    }
    assert(counted(cfg).converged)
    assert(!counted(cfg.copy(maxIterations = 7)).converged)
  }

  test("runLoop leaves no cached data behind (converged, on its budget and durable)") {
    val sc = spark.sparkContext
    def cachedRdds: Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    assert(Cga.runLoop(spark, cfg).converged)
    Cga.runLoop(spark, cfg.copy(maxIterations = 25))
    Cga.runLoop(spark, cfg, durableRoot =
      Some(Files.createTempDirectory("graft-cga-cache").toString))
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert((cachedRdds -- before).isEmpty, "runLoop left cached RDDs behind")
    }
  }
}
