package graft.cga

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PopCountArray

/** The declarative spelling of a cGA iteration, as Dataset operators
  * over `Cga`'s kernels (`sampleSplit`/`updateSplit`), kept as the
  * reference the specs check `Cga.runLoop` against. */
object CgaReference {

  /** Reference op 15 (InitialCGAMapper, CGA.java:38-67): every cell
    * starts at p = 0.5. */
  def initVector(spark: SparkSession, cfg: CgaConfig): Dataset[VectorSplit] = {
    import spark.implicits._
    val bits = cfg.splitBits
    spark.range(0L, cfg.numSplits.toLong, 1L,
        math.min(cfg.numSplits, spark.sparkContext.defaultParallelism))
      .map(id => VectorSplit(id, Array.fill(bits)(0.5)))
  }

  /** Reference op 16 (CGAMapper, CGA.java:70-124): sample T candidate
    * sub-genomes per split. Narrow (no shuffle); seeded per
    * (iteration, split). */
  def sample(vectors: Dataset[VectorSplit], cfg: CgaConfig, iteration: Int)
      : Dataset[SampledSplit] = {
    import vectors.sparkSession.implicits._
    val t = cfg.tournamentSize
    val seed = cfg.seed
    vectors.map(vs => Cga.sampleSplit(vs, Cga.iterationRng(seed, iteration, vs.splitId), t))
  }

  /** Reference op 17+18 front half (CGA.java:126-164 side files +
    * :195-260 findWinner re-read): per-candidate total ones across all
    * splits, as T sum columns in one partial+final aggregate. */
  def candidateTotals(sampled: Dataset[SampledSplit], cfg: CgaConfig): Array[Long] = {
    val t = cfg.tournamentSize
    val sums = (0 until t).map(l =>
      sum(PopCountArray.popcountArray(col("candidates").getItem(l))).as(s"c$l"))
    val row = sampled.agg(sums.head, sums.tail: _*).head()
    (0 until t).map(row.getLong).toArray
  }

  /** Reference op 19 over the Dataset: a narrow map, since the
    * candidates are already co-located with their split. */
  def update(sampled: Dataset[SampledSplit], winner: Int, loser: Int,
      cfg: CgaConfig): Dataset[(VectorSplit, Long)] = {
    import sampled.sparkSession.implicits._
    val delta = cfg.delta
    val lLim = cfg.lLimit
    val uLim = cfg.uLimit
    sampled.map(ss => Cga.updateSplit(ss, winner, loser, delta, lLim, uLim))
  }
}
