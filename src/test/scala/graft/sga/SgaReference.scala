package graft.sga

import java.util.Random

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.core.{GaConfig, Individual, Tournament}

/** The declarative spelling of an SGA generation, as Dataset operators
  * over `Sga.mix` and `Sga.evaluate`, kept as the reference the specs
  * check `Sga.runLoop` against. Its draws come from `java.util.Random`,
  * so matching the loop also checks `graft.core.Lcg48` end to end. */
object SgaReference {

  /** Reference ops 9-10: per-partition sliding-window tournament +
    * paired uniform crossover, one narrow `mapPartitions` (no shuffle;
    * the mixing shuffle already randomized partition contents).
    * Emits exactly one child per input row (population preserved). */
  def selectAndCross(pop: Dataset[Individual], cfg: GaConfig, generation: Int): Dataset[Individual] = {
    import pop.sparkSession.implicits._
    val s = cfg.tournamentSize
    val seed = cfg.seed
    pop.mapPartitions { it =>
      val rng = new Random(seed * 7919L + generation * 104729L +
        TaskContext.getPartitionId())
      Tournament.selectAndCross(it, s, rng)
    }
  }

  /** Reference ops 4-6: global best via the built-in argmax aggregate —
    * Catalyst runs it partial (per partition) + final, replacing the
    * reference's side-channel files + driver scan
    * (MapReduce.java:132-148,386-426). */
  def best(pop: Dataset[Individual]): (Array[Long], Long) = {
    val row = pop.agg(
      max_by(col("genome"), col("fitness")).as("g"),
      max(col("fitness")).as("f")).head()
    (row.getSeq[Long](0).toArray, row.getLong(1))
  }

  /** One generation step: mix → select+cross → (optional incremental-
    * variant offspring dedup, reference op 14) → evaluate. */
  def step(pop: Dataset[Individual], cfg: GaConfig, gen: Int): Dataset[Individual] = {
    val crossed = selectAndCross(Sga.mix(pop, cfg, gen), cfg, gen)
    val next = if (cfg.dedupOffspring) crossed.dropDuplicates("genome") else crossed
    Sga.evaluate(next)
  }
}
