package graft.sga

import java.nio.file.Files
import graft.SparkSpec
import graft.core.GaConfig
import graft.cga.{Cga, CgaConfig}

class DurableSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-durable").toString

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

  test("a resumed cGA run takes the uninterrupted run's trajectory") {
    // 4 splits over local[4]'s 4 partitions: a parquet read of the saved
    // vector places its files by size, and the draws are keyed by partition
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
