package graft.sga

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.hadoop.fs.Path
import org.apache.spark.{Partitioner, ShuffleDependency, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3HashFunction, Rand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SchedulerBridge
import org.apache.spark.sql.types.DoubleType

import graft.core.{GaConfig, Genome, Individual, Lcg48, Saves, Tournament}

/** Driver-merged running argmax over (genome, fitness) — the Spark
  * accumulator spelling of the reference's side-channel best files +
  * driver scan (/root/reference/src/edu/illinois/ga/MapReduce.java:132-148,
  * 386-426). Strict `>` keeps the first-seen genome on fitness ties
  * (same tie class as `max_by`); a pure max is idempotent, so task
  * retries and speculative duplicates cannot corrupt it. */
class BestAccumulator
    extends org.apache.spark.util.AccumulatorV2[(Array[Long], Long), (Array[Long], Long)] {
  private var bestG: Array[Long] = null
  private var bestF: Long = Long.MinValue
  override def isZero: Boolean = bestG == null
  override def copy(): BestAccumulator = new BestAccumulator().tap(_.add(value))
  override def reset(): Unit = { bestG = null; bestF = Long.MinValue }
  override def add(v: (Array[Long], Long)): Unit =
    if (bestG == null || v._2 > bestF) { bestG = v._1; bestF = v._2 }
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[(Array[Long], Long), (Array[Long], Long)]): Unit =
    if (other.value._1 != null) add(other.value)
  override def value: (Array[Long], Long) = (bestG, bestF)
}

/** Result of an SGA run. */
case class SgaResult(
    bestGenome: Array[Long],
    bestFitness: Long,
    generations: Int,
    history: Seq[Long])

/** Simple genetic algorithm (ONEMAX), the Spark-first re-expression of
  * the reference's MapReduce.java (SURVEY.md §2.1 ops 1-13).
  *
  * The Dataset operators (`initPopulation`, `evaluate`, `mix`, and the
  * test-scope `SgaReference`'s selection, crossover and best) are the
  * declarative spelling: one shuffle per generation (the mixing step),
  * fitness in whole-stage codegen, selection + crossover in one narrow
  * `mapPartitions`. `runLoop` drives generations on an RDD core with the
  * same trajectory (SgaSpec pins it): a map draws the mixing key, a
  * `ShuffledRDD` reproduces `mix`'s routing, a map sorts its partition
  * by key, selects, crosses, evaluates and feeds the best to an
  * accumulator, and materialization (local checkpoint or parquet write)
  * is the only action. That is one Spark job per generation with no
  * Catalyst planning in the in-memory loop, where the reference paid a
  * Hadoop job (MapReduce.java:281-302). In memory it is also one stage,
  * as Hadoop's `ChainReducer` chains mappers after a reducer: the task
  * that breeds a partition caches its chunk and keys it straight into
  * the next generation's exchange, whose map stage is the job
  * (`SchedulerBridge.runMapStage`), so no stage re-reads the cached
  * population to mix it.
  *
  * The core keeps Spark's per-record costs out of a generation:
  *  - a generation is one chunk per partition (its genomes, in row
  *    order), so the block store sizes one object per block; fitness is
  *    not kept, as breeding re-scores and the durable write re-evaluates;
  *  - the exchange has no key ordering (Spark's sorting shuffle read
  *    tracks the size of every record it buffers); each reduce task sorts
  *    its records itself, stably, so ties keep the fetch order;
  *  - records cross the exchange raw (`MixRecordSerializer`).
  * Its per-element work is unboxed: the RNG is `Lcg48` (`Random`'s
  * sequence without the atomic seed), the reduce side sorts an `int`
  * permutation by a `double` key array, genome words cross the record
  * streams in bulk, and each partition offers its best to the
  * accumulator once.
  * Durable and dedup mode turn chunks into rows at their Dataset edge.
  */
object Sga {

  /** Column expression: ONEMAX fitness of a bit-packed genome — sum of
    * per-word popcounts (reference op 3, MapReduce.java:100-111), as
    * the native codegen'd PopCountArray expression (one fused loop, no
    * intermediate array — see graft.functions.PopCountArray).
    */
  def fitnessExpr(genome: Column): Column =
    graft.functions.PopCountArray.popcountArray(genome)

  /** Reference op 2: seeded parallel population init. `spark.range`
    * replaces the reference's seed-file fan-out trick (op 1,
    * MapReduce.java:314-356) — parallelism is native.
    * RNG discipline: `new Lcg48(seed + partitionId)`, so results are
    * reproducible for a pinned partition count.
    */
  def initPopulation(spark: SparkSession, cfg: GaConfig): Dataset[Individual] = {
    import spark.implicits._
    spark.range(0L, cfg.popSize, 1L, cfg.numPartitions)
      .mapPartitions { it =>
        val rng = new Lcg48(cfg.seed + TaskContext.getPartitionId())
        it.map(_ => Individual(Genome.random(cfg.nBits, rng), 0L))
      }
  }

  /** Reference op 3: re-score every individual. Declarative, so Catalyst
    * fuses it with whatever follows in one codegen stage. */
  def evaluate(pop: Dataset[Individual]): Dataset[Individual] = {
    import pop.sparkSession.implicits._
    pop.withColumn("fitness", fitnessExpr(col("genome"))).as[Individual]
  }

  /** Reference ops 7-8: the mixing shuffle. A seeded `rand` key is
    * hash-repartitioned (random reducer assignment — op 7's
    * IndividualPartitioner) and sorted within partitions (op 8's random
    * sort comparator), yielding a deterministic-for-a-seed random
    * permutation. NOT a global `orderBy(rand)` — that would add a range
    * exchange + full sort; this is a single hash exchange with a cheap
    * in-partition sort, the minimal mixing the algorithm needs.
    */
  def mix(pop: Dataset[Individual], cfg: GaConfig, generation: Int): Dataset[Individual] = {
    import pop.sparkSession.implicits._
    val key = rand(cfg.seed * 1000003L + generation)
    pop.withColumn("__mix", key)
      .repartition(cfg.numPartitions, col("__mix"))
      .sortWithinPartitions("__mix")
      .drop("__mix")
      .as[Individual]
  }

  // ---- durable generations (reference ops 13 + 22): Parquet instead
  // of SequenceFiles, resumed from the latest one ----

  /** Write one generation durably (op 13's per-iteration sink). */
  def saveGeneration(pop: Dataset[Individual], root: String, gen: Int): Unit =
    pop.write.mode("overwrite").parquet(s"$root/gen=$gen")

  /** Read a generation back, its part files named in sorted order: the
    * read layout (and so each partition's mixing-key stream) depends on
    * the files alone, not on the order a directory listing returns. */
  def loadGeneration(spark: SparkSession, root: String, gen: Int): Dataset[Individual] = {
    import spark.implicits._
    val dir = new Path(s"$root/gen=$gen")
    val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath).filterNot(p => "_.".contains(p.getName.head)).map(_.toString)
    spark.read.parquet(files.sorted.toIndexedSeq: _*).as[Individual]
  }

  /** The latest completely saved generation under `root`, if any. */
  def latestGeneration(spark: SparkSession, root: String): Option[Int] =
    Saves.latest(spark, root, "gen=")

  /** Reference op 11, the generation loop, until best >= n - slack or
    * `maxGenerations`; `onGeneration(gen, best, millis)` is the
    * reference's `GA:<it>:<n>:<pop>:<best>:<millis>` record. In memory,
    * each generation is local-checkpointed and the one before released,
    * and a generation is one Spark stage: the job that breeds generation
    * g also writes the exchange that mixes it for g + 1, so `millis`
    * includes that write, generation 1's is written by generation 0's
    * job, and the last generation writes none. With `durableRoot`, each
    * lands in `root/gen=k` and the next steps from the RELOADED files
    * (the reference's HDFS round trip): as the mixing key depends on the
    * layout, that makes a resumed run (from the latest generation) equal
    * an uninterrupted one. */
  def runLoop(spark: SparkSession, cfg: GaConfig,
      onGeneration: (Int, Long, Long) => Unit = (_, _, _) => (),
      durableRoot: Option[String] = None): SgaResult = {
    val (result, last) = generations(spark, cfg, onGeneration, durableRoot)
    last.unpersist(blocking = true)
    result
  }

  /** The exchange that mixes a generation: its genomes keyed by mixing key. */
  private[sga] type Mixing = ShuffledRDD[Double, Array[Long], Array[Long]]

  /** `runLoop`, also returning its last generation, still materialized;
    * `onMixing` sees each exchange the loop breeds a generation from. */
  private[sga] def generations(spark: SparkSession, cfg: GaConfig,
      onGeneration: (Int, Long, Long) => Unit,
      durableRoot: Option[String],
      onMixing: Mixing => Unit = _ => ()): (SgaResult, RDD[Array[Array[Long]]]) = {
    import spark.implicits._
    def bestOf(gen: Int) =
      new BestAccumulator().tap(spark.sparkContext.register(_, s"sga_best_gen_$gen"))
    def rows(pop: RDD[Array[Array[Long]]]): Dataset[Individual] =
      spark.createDataset(pop.flatMap(_.iterator.map(Individual(_, 0L))))
    // the generation's one action; the files keep `evaluate`'s schema.
    // In memory, unless the generation is the last, the action writes the
    // exchange that mixes it, handed back with it; its lineage is cut
    // once the job is done
    def materialize(pop: RDD[Array[Array[Long]]],
        gen: Int): (RDD[Array[Array[Long]]], Option[Mixing]) =
      durableRoot match {
        case Some(root) =>
          saveGeneration(evaluate(rows(pop)), root, gen)
          (chunks(loadGeneration(spark, root, gen)), None)
        case None =>
          pop.localCheckpoint()
          if (gen == cfg.maxGenerations) {
            spark.sparkContext.runJob(pop, new Drain[Array[Array[Long]]], pop.partitions.indices,
              (_: Int, _: Unit) => ())
            (pop, None)
          } else {
            val mixed = mixing(pop, cfg, gen)
            SchedulerBridge.runMapStage(
              mixed.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]])
            (pop, Some(mixed))
          }
      }
    val first = bestOf(0)
    val resumeFrom = durableRoot.flatMap(latestGeneration(spark, _))
    var (pop, mixed) = resumeFrom match {
      case Some(g) =>
        val saved = chunks(loadGeneration(spark, durableRoot.get, g))
        saved.foreach(_.foreach(genome => first.add((genome, Genome.popcount(genome)))))
        (saved, None)
      case None =>
        materialize(initPopulation(spark, cfg).rdd.mapPartitions(it => scored(it.map(_.genome), first)), 0)
    }
    var gen = resumeFrom.getOrElse(0)
    var fittest = first.value
    val history = ArrayBuffer(fittest._2)
    while (!cfg.converged(fittest._2) && gen < cfg.maxGenerations) {
      val t0 = System.nanoTime()
      val acc = bestOf(gen + 1)
      // durable generations are mixed from their reloaded files
      val bred = mixed.getOrElse(mixing(pop, cfg, gen)).tap(onMixing).mapPartitionsWithIndex(
        new Breed(cfg.seed * 7919L + gen * 104729L, cfg.tournamentSize, acc))
      // reference op 14: the incremental variant's offspring dedup
      val (next, nextMixed) = materialize(if (!cfg.dedupOffspring) bred
        else chunks(rows(bred).dropDuplicates("genome")), gen + 1)
      pop.unpersist(blocking = false)
      pop = next
      mixed = nextMixed
      gen += 1
      fittest = acc.value
      history += fittest._2
      onGeneration(gen, fittest._2, (System.nanoTime() - t0) / 1000000L)
    }
    (SgaResult(fittest._1, fittest._2, gen, history.toSeq), pop)
  }

  /** Ops 7-8, the exchange that mixes generation `gen` with `mix`'s
    * permutation: the key is catalyst's own `Rand`, seeded as in `mix`
    * and initialized with the partition index, and the exchange routes
    * it as Spark SQL's hash partitioning does. */
  private def mixing(pop: RDD[Array[Array[Long]]], cfg: GaConfig, gen: Int): Mixing =
    new ShuffledRDD[Double, Array[Long], Array[Long]](
        pop.mapPartitionsWithIndex(new MixKeys(cfg.seed * 1000003L + gen)),
        new MixPartitioner(cfg.numPartitions))
      .setSerializer(new MixRecordSerializer)

  /** The exchange's map side: each genome keyed by the next draw of `Rand`,
    * seeded with `mixSeed` and initialized with the partition index. Both
    * sides of the exchange are named functions, which Spark's closure
    * cleaner leaves unparsed. */
  private final class MixKeys(mixSeed: Long)
      extends ((Int, Iterator[Array[Array[Long]]]) => Iterator[(Double, Array[Long])])
      with Serializable {
    def apply(p: Int, chunks: Iterator[Array[Array[Long]]]): Iterator[(Double, Array[Long])] = {
      val key = Rand(Literal(mixSeed))
      key.initialize(p)
      chunks.flatMap(_.iterator.map(g => (key.eval().asInstanceOf[Double], g)))
    }
  }

  /** The exchange's reduce side, ops 9-10 + 3 with
    * `SgaReference.selectAndCross`'s draws: the partition's records in
    * key order (as `sortWithinPartitions` orders them), then tournament
    * selection and crossover with `Lcg48(rngSeed + p)`, the children
    * re-scored into `acc`. */
  private[sga] final class Breed(rngSeed: Long, tournamentSize: Int, acc: BestAccumulator)
      extends ((Int, Iterator[(Double, Array[Long])]) => Iterator[Array[Array[Long]]])
      with Serializable {
    def apply(p: Int, records: Iterator[(Double, Array[Long])]): Iterator[Array[Array[Long]]] = {
      val rs = records.toArray
      val order = mixOrder(rs.map(_._1))
      val parents = Iterator.tabulate(rs.length) { i =>
        val g = rs(order(i))._2
        Individual(g, Genome.popcount(g))
      }
      scored(Tournament.selectAndCross(parents, tournamentSize, new Lcg48(rngSeed + p))
        .map(_.genome), acc)
    }
  }

  /** The indices of `keys` ordered by `java.lang.Double.compare`,
    * stably: tied keys keep their index order. A merge sort of an `int`
    * permutation (insertion-sorted runs, then bottom-up merges), so no
    * key is boxed. */
  private[sga] def mixOrder(keys: Array[Double]): Array[Int] = {
    val n = keys.length
    val Run = 32
    var src = new Array[Int](n)
    var dst = new Array[Int](n)
    var i = 0
    while (i < n) { src(i) = i; i += 1 }
    var lo = 0
    while (lo < n) {
      val hi = math.min(lo + Run, n)
      var j = lo + 1
      while (j < hi) {
        val v = src(j)
        var k = j
        while (k > lo && java.lang.Double.compare(keys(src(k - 1)), keys(v)) > 0) {
          src(k) = src(k - 1)
          k -= 1
        }
        src(k) = v
        j += 1
      }
      lo = hi
    }
    var width = Run
    while (width < n) {
      lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var k = lo
        while (k < hi) {
          // the left run wins ties: that is what keeps the sort stable
          if (b >= hi || (a < mid && java.lang.Double.compare(keys(src(b)), keys(src(a))) >= 0)) {
            dst(k) = src(a); a += 1
          } else {
            dst(k) = src(b); b += 1
          }
          k += 1
        }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }

  /** A generation's rows as chunks, one per partition, in row order. */
  private def chunks(pop: Dataset[Individual]): RDD[Array[Array[Long]]] =
    pop.rdd.mapPartitions(it => Iterator.single(it.map(_.genome).toArray))

  /** A partition's genomes as its one chunk, each ONEMAX-scored (op 3);
    * the first of the fittest is offered to `acc`, once. */
  private def scored(genomes: Iterator[Array[Long]],
      acc: BestAccumulator): Iterator[Array[Array[Long]]] = {
    val chunk = genomes.toArray
    var best: Array[Long] = null
    var bestF = Long.MinValue
    var i = 0
    while (i < chunk.length) {
      val f = Genome.popcount(chunk(i))
      if (best == null || f > bestF) { best = chunk(i); bestF = f }
      i += 1
    }
    if (best != null) acc.add((best, bestF))
    Iterator.single(chunk)
  }
}

/** A job that only computes its partitions: materialization's action.
  * A named function, where `count` hands Spark its own lambdas, whose
  * classes the closure cleaner reads and parses on every call. */
private final class Drain[T] extends ((TaskContext, Iterator[T]) => Unit) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[T]): Unit = while (rows.hasNext) rows.next()
}

/** Spark SQL's `HashPartitioning` of one double column: pmod of its
  * seed-42 Murmur3 hash. */
private class MixPartitioner(override val numPartitions: Int) extends Partitioner {
  override def getPartition(key: Any): Int =
    Math.floorMod(Murmur3HashFunction.hash(key, DoubleType, 42L).toInt, numPartitions)
}
