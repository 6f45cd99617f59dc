package graft

import org.apache.spark.sql.SparkSession
import graft.core.GaConfig
import graft.sga.Sga
import graft.cga.{Cga, CgaConfig}

/** CLI mirroring the reference's entry points so a reference user can
  * switch invocation 1:1 (README:32,46 + build.xml:27-31 of
  * /root/reference):
  *
  *   ga.jar  <nMaps> <nReducers> <vars> <iters> <popMult>
  *     → runMain graft.GaCli sga <partitions> <vars> <iters> <popMult>
  *   cga.jar <nMaps> <nReducers> <strLen> <iters> <popMult> <T> <it>
  *     → runMain graft.GaCli cga <partitions> <strLen> <iters> <popMult> <T> [resumeDir]
  *   inc_ga.jar <nMaps> <nReducers> <iters>
  *     → runMain graft.GaCli inc <partitions> <vars> <iters> <popMult>
  *
  * (`nMaps`/`nReducers` collapse into one partition count — Spark has
  * no map/reduce task split.) Emits the reference's own per-iteration
  * log-line formats: `GA:<it>:<n>:<pop>:<best>:<millis>`
  * (/root/reference/src/edu/illinois/ga/MapReduce.java:432) and
  * `CGA:<it>:<pop>:<best>:<totalBits>:<strLen>:<un>:<millis>`
  * (/root/reference/src/edu/illinois/ga/CGA.java:494).
  *
  * Reference op 21, `setSpeculativeExecution(true)` (MapReduce.java:281,
  * CGA.java:339-341), is Spark's `spark.speculation=true` on a cluster
  * manager. It is left off here: under a local master a speculative
  * copy shares the same cores and adds load instead of dodging a slow
  * node (measured ~1.25x per generation, BASELINE.md round 12).
  */
object GaCli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, usage)
    val mode = args(0)
    val parts = args(1).toInt
    // only stop a session this invocation created — embedding callers
    // (tests, notebooks) keep theirs
    val ownSession = SparkSession.getDefaultSession.isEmpty
    val spark = Session.local(Session.cpus(),
      "spark.sql.shuffle.partitions" -> math.max(parts, 4).toString)
    try mode match {
      case "sga" | "inc" =>
        val n = args(2).toInt
        val iters = args(3).toInt
        val popMult = args.lift(4).map(_.toDouble).getOrElse(1.0)
        // the reference's `iter` continuation arg (MapReduce.java CLI):
        // with a resume dir, generations land durably under it and a
        // rerun picks up from the latest one — matching cga's arg
        val resumeDir = args.lift(5)
        // pop = ceil(k·n·log2 n), MapReduce.java:454
        val pop = GaConfig.populationSize(n, popMult)
        val cfg = GaConfig(nBits = n, popSize = pop, numPartitions = parts,
          maxGenerations = iters, dedupOffspring = mode == "inc")
        val r = Sga.runLoop(spark, cfg, (gen, best, ms) =>
          // reference log line: GA:<it>:<n>:<pop>:<best>:<millis>
          println(s"GA:$gen:$n:$pop:$best:$ms"), durableRoot = resumeDir)
        println(s"SGA done: best=${r.bestFitness}/${cfg.nBits} " +
          s"generations=${r.generations} converged=${cfg.converged(r.bestFitness)}")
      case "cga" =>
        val strLen = args(2).toInt
        val iters = args(3).toInt
        val popMult = args.lift(4).map(_.toLong).getOrElse(10L)
        val t = args.lift(5).map(_.toInt).getOrElse(4)
        val resumeDir = args.lift(6)
        // pop = ceil(strLen·log2 strLen)·times, CGA.java:328-335
        val pop = GaConfig.populationSize(strLen, 1.0) * popMult
        val splits = math.max(1, math.min(parts, strLen / 64))
        val n = strLen - strLen % splits // keep splits even
        val cfg = CgaConfig(nBits = n, numSplits = splits,
          tournamentSize = t, population = pop, maxIterations = iters)
        val r = Cga.runLoop(spark, cfg, durableRoot = resumeDir, onIteration = (it, best, un, ms) =>
          // reference log line: CGA:<it>:<pop>:<best>:<tot>:<strLen>:<un>:<millis>
          println(s"CGA:$it:$pop:$best:$n:$n:$un:$ms"))
        println(s"cGA done: winnerFitness=${r.winnerFitness} " +
          s"iterations=${r.iterations} converged=${r.converged}")
      case other => sys.error(s"unknown mode $other\n$usage")
    } finally if (ownSession) spark.stop()
  }

  private val usage: String =
    """usage:
      |  GaCli sga <partitions> <vars> <maxIters> [popMult] [resumeDir]
      |  GaCli inc <partitions> <vars> <maxIters> [popMult] [resumeDir]
      |  GaCli cga <partitions> <strLen> <maxIters> [popMult] [tournamentSize] [resumeDir]
      |""".stripMargin
}
