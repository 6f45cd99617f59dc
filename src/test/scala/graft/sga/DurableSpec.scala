package graft.sga

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.GaConfig
import graft.cga.{Cga, CgaConfig}

class DurableSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-durable").toString

  /** What a save cut short by a crash leaves: the dir, holding only the
    * write's `_temporary/` with a partial task file. */
  private def plantCutSave(root: String, dir: String): Unit = {
    val attempt = Files.createDirectories(
      Paths.get(root, dir, "_temporary", "0", "_temporary", "attempt_0"))
    Files.write(attempt.resolve("part-00000.snappy.parquet"), Array[Byte](1, 2, 3))
  }

  test("dedupOffspring collapses identical genomes per generation") {
    val cfg = GaConfig(nBits = 8, popSize = 2048, numPartitions = 2,
      seed = 42, dedupOffspring = true)
    // 8-bit genomes, 2048 individuals: heavy duplication guaranteed
    val g0 = Sga.evaluate(Sga.initPopulation(spark, cfg))
    val g1 = SgaReference.step(g0, cfg, 0)
    val n = g1.count()
    val distinctGenomes = g1.dropDuplicates("genome").count()
    assert(n == distinctGenomes, "offspring must be genome-distinct")
    assert(n < cfg.popSize, "with 256 possible genomes, dedup must shrink 2048")
  }

  test("SGA durable loop persists generations and resumes") {
    val root = tmpDir()
    val cfg = GaConfig(nBits = 64, popSize = 512, numPartitions = 2,
      seed = 42, maxGenerations = 3, convergenceSlack = -1)
    val r1 = Sga.runLoop(spark, cfg, durableRoot = Some(root))
    assert(r1.generations == 3)
    assert(Sga.latestGeneration(spark, root).contains(3))
    // resume with a higher budget: continues from gen 3, not from 0
    val r2 = Sga.runLoop(spark, cfg.copy(maxGenerations = 5), durableRoot = Some(root))
    assert(r2.generations == 5)
    assert(Sga.latestGeneration(spark, root).contains(5))
    // the resumed population is the saved one (evaluate is idempotent)
    val reloaded = Sga.evaluate(Sga.loadGeneration(spark, root, 5))
    assert(reloaded.count() == cfg.popSize)
  }

  test("cGA durable loop saves vector and resumes from it") {
    val root = tmpDir()
    val cfg = CgaConfig(nBits = 64, numSplits = 2, tournamentSize = 8,
      population = 20, seed = 42, maxIterations = 5)
    val r1 = Cga.runLoop(spark, cfg, durableRoot = Some(root), saveEvery = 5)
    assert(!r1.converged && r1.iterations == 5)
    assert(Cga.latestIteration(spark, root).contains(5))
    val r2 = Cga.runLoop(spark, cfg.copy(maxIterations = 400),
      durableRoot = Some(root), saveEvery = 50)
    assert(r2.converged)
    // converged final vector persisted
    val last = Cga.latestIteration(spark, root).get
    assert(last > 5)
    val vec = Cga.loadVector(spark, root, last).collect()
    assert(vec.map(_.probs.length).sum == cfg.nBits)
  }

  test("an SGA resume skips a generation whose save was cut short") {
    val cfg = GaConfig(nBits = 64, popSize = 512, numPartitions = 2,
      seed = 42, maxGenerations = 5, convergenceSlack = -1)
    val straight = tmpDir()
    val whole = Sga.runLoop(spark, cfg, durableRoot = Some(straight))
    val root = tmpDir()
    Sga.runLoop(spark, cfg.copy(maxGenerations = 3), durableRoot = Some(root))
    plantCutSave(root, "gen=4")
    assert(Sga.latestGeneration(spark, root).contains(3))
    val resumed = Sga.runLoop(spark, cfg, durableRoot = Some(root))
    assert(resumed.generations == whole.generations)
    assert(resumed.bestFitness == whole.bestFitness)
    // the resumed history starts at the saved generation 3
    assert(resumed.history == whole.history.drop(3))
    def genomes(r: String) = Sga.loadGeneration(spark, r, 5).collect()
      .map(_.genome.toSeq).toSeq.sorted(Ordering.Implicits.seqOrdering[Seq, Long])
    assert(genomes(root) == genomes(straight))
  }

  test("a cGA resume skips an iteration whose save was cut short") {
    val cfg = CgaConfig(nBits = 64, numSplits = 4, tournamentSize = 8,
      population = 20, seed = 42, maxIterations = 400)
    val whole = Cga.runLoop(spark, cfg)
    val root = tmpDir()
    Cga.runLoop(spark, cfg.copy(maxIterations = 5), durableRoot = Some(root), saveEvery = 5)
    plantCutSave(root, "iter=6")
    assert(Cga.latestIteration(spark, root).contains(5))
    val resumed = Cga.runLoop(spark, cfg, durableRoot = Some(root), saveEvery = 50)
    assert(whole.converged && resumed.converged)
    assert(resumed.iterations == whole.iterations)
    assert(resumed.winnerFitness == whole.winnerFitness)
    assert(resumed.vector.toSeq == whole.vector.toSeq)
  }

  test("a resumed cGA run takes the uninterrupted run's trajectory") {
    // the draws are keyed by (seed, iteration, split), so the reloaded
    // vector's partition layout does not matter
    val cfg = CgaConfig(nBits = 64, numSplits = 4, tournamentSize = 8,
      population = 20, seed = 42, maxIterations = 400)
    val whole = Cga.runLoop(spark, cfg)
    val root = tmpDir()
    Cga.runLoop(spark, cfg.copy(maxIterations = 5), durableRoot = Some(root), saveEvery = 5)
    val resumed = Cga.runLoop(spark, cfg, durableRoot = Some(root), saveEvery = 50)
    assert(whole.converged && resumed.converged)
    assert(resumed.iterations == whole.iterations)
    assert(resumed.vector.toSeq == whole.vector.toSeq)
  }
}
