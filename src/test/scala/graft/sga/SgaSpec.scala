package graft.sga

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.math.Ordering.Implicits.seqOrdering

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.core.{GaConfig, Genome, Individual, Tournament}

class SgaSpec extends SparkSpec {

  private val cfg = GaConfig(nBits = 64, popSize = 1024, tournamentSize = 5,
    numPartitions = 4, seed = 42, maxGenerations = 40)

  test("initPopulation: size, genome width, masked tail, fitness 0") {
    val pop = Sga.initPopulation(spark, cfg).collect()
    assert(pop.length == cfg.popSize)
    assert(pop.forall(_.genome.length == Genome.words(cfg.nBits)))
    assert(pop.forall(_.fitness == 0L))
    val cfg100 = cfg.copy(nBits = 100)
    val pop100 = Sga.initPopulation(spark, cfg100).collect()
    assert(pop100.forall(i =>
      (100 until 128).forall(b => Genome.bit(i.genome, b) == 0)))
  }

  test("initPopulation is deterministic for a seed") {
    val a = Sga.initPopulation(spark, cfg).collect().map(_.genome.toSeq)
    val b = Sga.initPopulation(spark, cfg).collect().map(_.genome.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("evaluate matches Genome.popcount") {
    val pop = Sga.evaluate(Sga.initPopulation(spark, cfg)).collect()
    assert(pop.forall(i => i.fitness == Genome.popcount(i.genome)))
  }

  test("mix preserves the population multiset") {
    val pop = Sga.evaluate(Sga.initPopulation(spark, cfg))
    val mixed = Sga.mix(pop, cfg, generation = 0)
    val before = pop.collect().map(i => (i.genome.toSeq, i.fitness)).sortBy(_.hashCode)
    val after = mixed.collect().map(i => (i.genome.toSeq, i.fitness)).sortBy(_.hashCode)
    assert(before.toSeq == after.toSeq)
    assert(mixed.rdd.getNumPartitions == cfg.numPartitions)
  }

  test("selectAndCross preserves population size") {
    val pop = Sga.evaluate(Sga.initPopulation(spark, cfg))
    val next = SgaReference.selectAndCross(Sga.mix(pop, cfg, 0), cfg, 0)
    assert(next.count() == cfg.popSize)
  }

  test("one generation raises mean fitness (selection pressure)") {
    val pop = Sga.evaluate(Sga.initPopulation(spark, cfg))
    val m0 = pop.agg(org.apache.spark.sql.functions.avg("fitness")).head().getDouble(0)
    val next = Sga.evaluate(SgaReference.selectAndCross(Sga.mix(pop, cfg, 0), cfg, 0))
    val m1 = next.agg(org.apache.spark.sql.functions.avg("fitness")).head().getDouble(0)
    assert(m1 > m0, s"gen1 mean $m1 should exceed gen0 mean $m0")
  }

  test("golden: seeded run reproduces the pinned fitness trajectory") {
    // SURVEY §5.5: exact per-generation best-fitness history for the
    // pinned config (n=64, pop=1024, 4 parts, seed 42, local[4]/4
    // shuffle partitions). Catches silent semantic drift in any of
    // init/evaluate/mix/select/crossover. If a DELIBERATE semantic
    // change moves this, re-pin with tools in the commit that does it.
    val r = Sga.runLoop(spark, cfg)
    assert(r.history == Seq(46L, 46L, 51L, 51L, 53L, 54L),
      s"trajectory drifted: ${r.history}")
  }

  test("sga_generation_invariant gate row: one row per distinct genome, " +
      "multiplicities sum to popSize, fitness within [0, nBits]") {
    val rows = graft.ops.GaQueries.sgaGenerationInvariant(spark, "").collect()
    assert(rows.map(_.getLong(1)).sum == 4096L)
    assert(rows.forall { r =>
      val f = r.getLong(2); f >= 0L && f <= 256L })
    // keys are distinct by construction (groupBy); the fixture it
    // wrote is replayable — a second invocation reproduces the rows
    val again = graft.ops.GaQueries.sgaGenerationInvariant(spark, "").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("runLoop converges on ONEMAX n=64 (seeded)") {
    val r = Sga.runLoop(spark, cfg)
    assert(r.bestFitness >= cfg.nBits - cfg.convergenceSlack,
      s"best ${r.bestFitness} after ${r.generations} gens, history=${r.history}")
    assert(Genome.popcount(r.bestGenome) == r.bestFitness)
    // best-so-far is nondecreasing in expectation; assert the endpoints
    assert(r.history.last >= r.history.head)
  }

  // configs for the loop-equivalence cases: an odd population, genome
  // widths off a 64-bit word, 3 and 5 partitions, tournament sizes 3
  // and 4, and partitions smaller than the window (64 rows over 8)
  private val loopCfgs = Seq(
    GaConfig(nBits = 100, popSize = 777, tournamentSize = 3, numPartitions = 3,
      seed = 7, maxGenerations = 5, convergenceSlack = -1),
    cfg,
    GaConfig(nBits = 130, popSize = 501, tournamentSize = 4, numPartitions = 5,
      seed = 11, maxGenerations = 4, convergenceSlack = -1),
    GaConfig(nBits = 64, popSize = 64, tournamentSize = 5, numPartitions = 8,
      seed = 3, maxGenerations = 3, convergenceSlack = -1))

  private def multiset(pop: Array[Individual]): Seq[(Seq[Long], Long)] =
    pop.map(i => (i.genome.toSeq, i.fitness)).toSeq.sorted

  /** A chunked generation's individuals, scored. */
  private def individuals(pop: RDD[Array[Array[Long]]]): Array[Individual] =
    pop.collect().flatten.map(g => Individual(g, Genome.popcount(g)))

  test("the RDD loop core computes the same trajectory as the Dataset operators") {
    loopCfgs.foreach { c =>
      // the Dataset spelling: step + best, each generation local-checkpointed
      var pop = Sga.evaluate(Sga.initPopulation(spark, c)).localCheckpoint()
      val history = ArrayBuffer(SgaReference.best(pop)._2)
      var gen = 0
      while (!c.converged(history.last) && gen < c.maxGenerations) {
        pop = SgaReference.step(pop, c, gen).localCheckpoint()
        gen += 1
        history += SgaReference.best(pop)._2
      }
      // runLoop's body, which also hands back its last generation
      val (r, last) = Sga.generations(spark, c, (_, _, _) => (), None)
      assert(r.history == history.toSeq, s"history diverged for $c")
      assert(r.generations == gen)
      assert(multiset(individuals(last)) == multiset(pop.collect()),
        s"final population diverged for $c")
      last.unpersist(blocking = true)
    }
  }

  test("the durable loop saves the generations of a step-from-reloaded-parquet run") {
    loopCfgs.take(3).foreach { c =>
      val ref = Files.createTempDirectory("graft-sga-ref").toString
      val root = Files.createTempDirectory("graft-sga-loop").toString
      def reloaded(dir: String, g: Int) = Sga.evaluate(Sga.loadGeneration(spark, dir, g))
      Sga.saveGeneration(Sga.evaluate(Sga.initPopulation(spark, c)), ref, 0)
      val history = ArrayBuffer(SgaReference.best(reloaded(ref, 0))._2)
      var gen = 0
      while (!c.converged(history.last) && gen < c.maxGenerations) {
        Sga.saveGeneration(SgaReference.step(reloaded(ref, gen), c, gen), ref, gen + 1)
        gen += 1
        history += SgaReference.best(reloaded(ref, gen))._2
      }
      val r = Sga.runLoop(spark, c, durableRoot = Some(root))
      assert(r.history == history.toSeq, s"history diverged for $c")
      (0 to gen).foreach { g =>
        assert(multiset(reloaded(root, g).collect()) == multiset(reloaded(ref, g).collect()),
          s"generation $g diverged for $c")
      }
    }
  }

  private def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] = rdd.dependencies.flatMap {
    case s: ShuffleDependency[_, _, _] => s +: shuffles(s.rdd)
    case d => shuffles(d.rdd)
  }

  test("a generation is one genome chunk per partition, mixed by an unsorted raw-record shuffle") {
    val c = cfg.copy(maxGenerations = 2, convergenceSlack = -1)
    val handed = ArrayBuffer[ShuffleDependency[_, _, _]]()
    val (_, last) = Sga.generations(spark, c, (_, _, _) => (), None,
      mixed => handed ++= shuffles(mixed))
    try {
      assert(last.mapPartitions(it => Iterator.single(it.size)).collect().toSeq ==
        Seq.fill(c.numPartitions)(1))
      // each exchange a generation is bred from (the materialized
      // generation before it ends its lineage)
      assert(handed.size == c.maxGenerations)
      handed.foreach { mixing =>
        assert(mixing.keyOrdering.isEmpty, "the exchange sorts records by key again")
        assert(mixing.serializer.isInstanceOf[MixRecordSerializer])
      }
    } finally last.unpersist(blocking = true)
  }

  test("lineage and shuffle retention stay bounded: the last generation ends at " +
      "its local checkpoint, each exchange reaches one shuffle") {
    def depth(rdd: RDD[_]): Int =
      1 + rdd.dependencies.map(d => depth(d.rdd)).maxOption.getOrElse(0)
    val c = cfg.copy(popSize = 256, convergenceSlack = -1)
    val depths = Seq(3, 30).map { n =>
      val reached = ArrayBuffer[Int]()
      val (r, last) = Sga.generations(spark, c.copy(maxGenerations = n), (_, _, _) => (), None,
        mixed => reached += shuffles(mixed).size)
      try {
        assert(r.generations == n)
        assert(reached.toSeq == Seq.fill(n)(1), s"exchanges after $n generations")
        assert(last.isCheckpointed, s"the last of $n generations is not checkpointed")
        depth(last)
      } finally last.unpersist(blocking = true)
    }
    assert(depths.distinct.size == 1, s"lineage depth after 3 and 30 generations: $depths")
  }

  test("breed's reduce side sorts by mixing key stably: tied keys keep their fetch order") {
    val byKey = Ordering.Double.TotalOrdering
    val rng = new java.util.Random(5)
    // few distinct keys (signed zeros among them) make long runs of ties;
    // the sizes cross the sort's 32-record runs and its merge widths
    val levels = Array(-0.0, 0.0, 0.25, 0.5, 0.75)
    Seq(0, 1, 31, 32, 33, 100, 1000).foreach { n =>
      val keys = Array.fill(n)(levels(rng.nextInt(levels.length)))
      assert(Sga.mixOrder(keys).toSeq == (0 until n).sortBy(keys(_))(byKey), s"n=$n")
    }
    val records = Seq.fill(300)((levels(rng.nextInt(levels.length)), Genome.random(128, rng)))
    val (rngSeed, s, p) = (77L, 5, 2)
    val acc = new BestAccumulator
    val bred = new Sga.Breed(rngSeed, s, acc)(p, records.iterator).toSeq.flatten
    // the fetch order's stable sort, then the tournament on java.util.Random
    val parents = records.sortBy(_._1)(byKey).map { case (_, g) => Individual(g, Genome.popcount(g)) }
    val expected = Tournament.selectAndCross(parents.iterator, s, new java.util.Random(rngSeed + p))
      .map(_.genome.toSeq).toSeq
    assert(bred.map(_.toSeq) == expected)
    assert(acc.value._2 == bred.map(Genome.popcount).max)
    assert(acc.value._1 eq bred.find(g => Genome.popcount(g) == acc.value._2).get)
  }

  test("runLoop runs one Spark job per generation, plus one for generation 0") {
    val sc = spark.sparkContext
    val c = cfg.copy(maxGenerations = 3, convergenceSlack = -1)
    val group = s"sga-job-count-${System.nanoTime()}"
    sc.setJobGroup(group, "SGA job count")
    try Sga.runLoop(spark, c) finally sc.clearJobGroup()
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1 + c.maxGenerations)
    }
  }

  test("an in-memory runLoop runs one Spark stage per generation, plus one for generation 0") {
    val sc = spark.sparkContext
    val c = cfg.copy(maxGenerations = 3, convergenceSlack = -1)
    val group = s"sga-stage-count-${System.nanoTime()}"
    def inGroup(props: java.util.Properties) =
      props != null && props.getProperty("spark.jobGroup.id") == group
    val jobs, jobsEnded, stages, stagesCompleted = ConcurrentHashMap.newKeySet[Int]()
    // one listener queue delivers a job's stage completions before its end
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) jobsEnded.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties)) stages.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.failureReason.isEmpty) stagesCompleted.add(e.stageInfo.stageId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "SGA stage count")
      try Sga.runLoop(spark, c) finally sc.clearJobGroup()
      eventually(timeout(10.seconds), interval(100.millis)) {
        assert(jobsEnded.size == 1 + c.maxGenerations)
      }
      assert(stages.asScala.count(stagesCompleted.contains) == 1 + c.maxGenerations)
    } finally sc.removeSparkListener(listener)
  }

  test("runLoop leaves no cached data behind (in memory, durable and dedup)") {
    val sc = spark.sparkContext
    val c = GaConfig(nBits = 64, popSize = 2048, numPartitions = 4, seed = 9,
      maxGenerations = 3, convergenceSlack = -1)
    def cachedRdds: Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    Sga.runLoop(spark, c)
    Sga.runLoop(spark, c, durableRoot =
      Some(Files.createTempDirectory("graft-sga-cache").toString))
    Sga.runLoop(spark, c.copy(nBits = 8, dedupOffspring = true))
    // the generation-0 plan a loop could cache through the CacheManager
    assert(Sga.evaluate(Sga.initPopulation(spark, c)).storageLevel == StorageLevel.NONE)
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert((cachedRdds -- before).isEmpty, "runLoop left cached RDDs behind")
    }
  }
}
