package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.cga.{Cga, CgaConfig}
import graft.core.{GaConfig, Genome, Individual, Tournament}
import graft.sga.Sga

/** The GA phase: SGA generations (`Sga.runLoop`, ONEMAX, fixed
  * generation count) and cGA runs to convergence (`Cga.runLoop`). */
final class GaPhase(ctx: Ctx, size: Sizes.Ga) {
  import GaPhase._

  private var sgaRuns = 0
  private var cgaRuns = 0
  private val cgaIterations = scala.collection.mutable.Map[Long, Int]()

  private def cgaSeed(k: Int): Long = ctx.seed * 1000L + k

  /** Input preparation: the seeded initial population, evaluated and
    * materialized (what `Sga.runLoop` builds before its first
    * generation). */
  def prepare(rep: Int): Unit = {
    val cfg = GaConfig(nBits = size.sgaBits, popSize = size.sgaPop,
      numPartitions = SgaPartitions, seed = ctx.seed * 31L + 1000L + rep)
    val pop = Sga.evaluate(Sga.initPopulation(ctx.spark, cfg))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pop.count()
    ctx.check("sga.population_size", n == size.sgaPop, s"population $n")
    pop.unpersist(blocking = true)
  }

  /** Untimed warm-up: two SGA runs and six cGA runs of the first
    * sub-seed. SGA generations keep getting faster over the first two
    * runs and cGA iterations over the first six (JIT), so a shorter
    * warm-up leaks that trend into the timed window. */
  def warm(): Unit = (0 until 2).foreach { _ =>
    sga(timed = false)
    (0 until 3).foreach(_ => cga(timed = false))
  }

  def sga(timed: Boolean, gens: Int = size.sgaGens): Unit = {
    val cfg = GaConfig(nBits = size.sgaBits, popSize = size.sgaPop,
      tournamentSize = 5, numPartitions = SgaPartitions,
      seed = ctx.seed * 31L + sgaRuns, maxGenerations = gens,
      convergenceSlack = -1)
    sgaRuns += 1
    val marks = ArrayBuffer[(Int, Double, Long)]()
    val t0 = Clock.nowMs
    val gc0 = JvmStats.gcMs
    val res = ctx.op("graft.sga", "sga_run", "run", Map("timed" -> timed)) {
      Sga.runLoop(ctx.spark, cfg,
        (g, _, _) => marks += ((g, Clock.nowMs, JvmStats.gcMs)))
    }
    res.foreach { r =>
      ctx.check("sga.best_is_popcount", Genome.popcount(r.bestGenome) == r.bestFitness,
        s"popcount ${Genome.popcount(r.bestGenome)} != best ${r.bestFitness}")
      ctx.check("sga.history_length", r.history.size == r.generations + 1,
        s"history ${r.history.size} for ${r.generations} generations")
      ctx.check("sga.generation_count", r.generations == gens,
        s"${r.generations} generations, expected $gens")
      var prev = (t0, gc0)
      marks.foreach { case (g, t, gc) =>
        // the first generation also carries population init and the
        // initial best job: a warm-up generation, excluded from sga.gen_s
        val warmGen = g == 1
        ctx.span("graft.sga", "generation", "generation", prev._1, t,
          Map("gen" -> g, "gc_ms" -> (gc - prev._2), "pop" -> size.sgaPop, "timed" -> (timed && !warmGen)))
        if (timed && !warmGen) ctx.sample("sga.gen_s", (t - prev._1) / 1000.0)
        prev = (t, gc)
      }
    }
  }

  def cga(timed: Boolean): Unit = {
    // timed runs cycle through sub-seeds; sub-seed 0 is also the
    // warm-up's, so its iteration count is checked for repeatability
    val k = if (timed) cgaRuns % CgaSubSeeds else 0
    if (timed) cgaRuns += 1
    val s = cgaSeed(k)
    val cfg = CgaConfig(nBits = size.cgaBits, numSplits = CgaSplits,
      tournamentSize = CgaT, population = size.cgaPop, seed = s,
      maxIterations = 1000000)
    val t0 = Clock.nowMs
    ctx.op("graft.cga", "cga_run", "run", Map("timed" -> timed, "sub_seed" -> s)) {
      Cga.runLoop(ctx.spark, cfg)
    }.foreach { r =>
      val secs = (Clock.nowMs - t0) / 1000.0
      ctx.annotateLast(Map("iterations" -> r.iterations))
      ctx.check("cga.converged", r.converged, s"sub-seed $s did not converge")
      val inBand = r.vector.count(p => p >= cfg.lLimit && p <= cfg.uLimit)
      ctx.check("cga.cells_outside_band", inBand == 0,
        s"$inBand cells inside [${cfg.lLimit}, ${cfg.uLimit}]")
      cgaIterations.get(s) match {
        case Some(prev) => ctx.check("cga.iterations_repeat", prev == r.iterations,
          s"sub-seed $s took $prev then ${r.iterations} iterations")
        case None => cgaIterations(s) = r.iterations
      }
      if (timed) {
        ctx.sample("cga.converge_s", secs)
        ctx.sample("cga.iterations", r.iterations.toDouble)
      }
    }
  }

  /** Single-thread timings of the `graft.core` kernels on an in-memory
    * population of the SGA phase's shape. */
  def coreKernels(): Unit = {
    val rng = new java.util.Random(ctx.seed)
    val pop = Array.fill(size.sgaPop.toInt)(
      Individual(Genome.random(size.sgaBits, rng), 0L))
    pop.indices.foreach(i => pop(i) = Individual(pop(i).genome, Genome.popcount(pop(i).genome)))
    val n = pop.length.toDouble
    val tour = (0 until 7).map { rep =>
      val t0 = System.nanoTime()
      val out = Tournament.selectAndCross(pop.iterator, 5, new java.util.Random(rep))
      var c = 0; while (out.hasNext) { out.next(); c += 1 }
      require(c == pop.length)
      (System.nanoTime() - t0) / n
    }
    var sink = 0L
    val pc = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0; while (i < pop.length) { sink += Genome.popcount(pop(i).genome); i += 1 }
      (System.nanoTime() - t0) / n
    }
    require(sink > 0)
    // drop the first (cold) repetition of each
    ctx.values("core.tournament.ns_per_indiv") = Stats.median(tour.drop(1))
    ctx.values("core.popcount.ns_per_indiv") = Stats.median(pc.drop(1))
  }
}

object GaPhase {
  val SgaPartitions = 8
  val CgaSplits = 4
  val CgaT = 8
  val CgaSubSeeds = 3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
