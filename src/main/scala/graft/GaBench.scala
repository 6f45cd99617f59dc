package graft

import graft.core.GaConfig
import graft.sga.Sga

/** The SURVEY §6 local GA yardstick: sec/generation for the pinned SGA
  * config (n=4096, pop=65536, 8 partitions, 20 generations, seed 42).
  * Prints one JSON line; recorded in BASELINE.md so future rounds have
  * a reproducible local number the reference repo never published.
  */
object GaBench {
  def main(args: Array[String]): Unit = {
    // optional args: nBits popSize generations partitions
    // (defaults = the SURVEY §6 pinned yardstick; the reference's
    // README:41 headline scale is `runMain graft.GaBench 10000 1330000 5 32`)
    val nBits = args.lift(0).map(_.toInt).getOrElse(4096)
    val popSize = args.lift(1).map(_.toLong).getOrElse(65536L)
    val gens = args.lift(2).map(_.toInt).getOrElse(20)
    val parts = args.lift(3).map(_.toInt).getOrElse(8)
    val spark = Session.local(Session.cpus())
    val cfg = GaConfig(nBits = nBits, popSize = popSize, tournamentSize = 5,
      numPartitions = parts, seed = 42, maxGenerations = gens,
      convergenceSlack = -1) // slack -1: never converges early, runs all gens
    val t0 = System.nanoTime()
    val r = Sga.runLoop(spark, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"sga_sec_per_generation","value":${sec / r.generations}%.3f,"unit":"sec","generations":${r.generations},"total_sec":$sec%.3f,"best":${r.bestFitness},"n":$nBits,"pop":$popSize}""")
    spark.stop()
  }
}
