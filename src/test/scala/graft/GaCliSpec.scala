package graft

import java.nio.file.Files

import graft.sga.Sga

/** The CLI argument surface — specifically the SGA durable-resume path
  * (the reference's `iter` continuation arg): run k generations, "crash",
  * re-invoke with the same resume dir and a larger budget, and land on
  * the identical trajectory an uninterrupted run produces. */
class GaCliSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-cli-sga").toString

  private def genomes(root: String, gen: Int): Seq[Seq[Long]] =
    Sga.loadGeneration(spark, root, gen).collect()
      .map(_.genome.toSeq).toSeq.sorted(Ordering.Implicits.seqOrdering[Seq, Long])

  test("sga CLI resume matches the uninterrupted run generation-for-generation") {
    val interrupted = tmpDir()
    val straight = tmpDir()
    // 2 generations, then resume the same dir up to 4
    GaCli.main(Array("sga", "2", "128", "2", "0.5", interrupted))
    assert(Sga.latestGeneration(spark, interrupted).contains(2))
    GaCli.main(Array("sga", "2", "128", "4", "0.5", interrupted))
    // the uninterrupted twin
    GaCli.main(Array("sga", "2", "128", "4", "0.5", straight))
    assert(Sga.latestGeneration(spark, interrupted).contains(4))
    assert(Sga.latestGeneration(spark, straight).contains(4))
    // identical population multiset at the final generation — the
    // resume consumed the durable state, not a fresh init
    assert(genomes(interrupted, 4) == genomes(straight, 4))
  }

  test("sga CLI prints one GA record per generation in resume mode") {
    val root = tmpDir()
    // the generation numbers of the GA:<it>:<n>:<pop>:<best>:<millis> lines
    def records(args: String*): Seq[Int] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(GaCli.main(args.toArray))
      out.toString.linesIterator.filter(_.startsWith("GA:")).map { line =>
        val f = line.split(":")
        assert(f.length == 6 && f(2) == "128", line)
        f(1).toInt
      }.toSeq
    }
    assert(records("sga", "2", "128", "2", "0.5", root) == Seq(1, 2))
    assert(records("sga", "2", "128", "4", "0.5", root) == Seq(3, 4))
  }

  test("cga CLI prints one CGA record per iteration, the last one converged") {
    val out = new java.io.ByteArrayOutputStream()
    // strLen 16, population ceil(16 log2 16) = 64, T = 4
    Console.withOut(out)(GaCli.main(Array("cga", "2", "16", "500", "1", "4")))
    val lines = out.toString.linesIterator.toSeq
    // CGA:<it>:<pop>:<best>:<tot>:<strLen>:<un>:<millis>
    val records = lines.filter(_.startsWith("CGA:")).map(_.split(":"))
    assert(records.nonEmpty && records.forall(f => f.length == 8 && f(2) == "64"))
    assert(records.map(_(1).toInt) == (1 to records.length))
    assert(records.last(6) == "0" && records.init.forall(_(6).toLong > 0L))
    assert(lines.contains(s"cGA done: winnerFitness=${records.last(3)} " +
      s"iterations=${records.length} converged=true"))
  }

  test("the CLI leaves an embedding caller's session running") {
    GaCli.main(Array("sga", "2", "64", "1", "0.5"))
    assert(!spark.sparkContext.isStopped,
      "GaCli must not stop a session it did not create")
  }

  test("the CLI leaves an embedding caller's session conf untouched") {
    // the shared session runs 4 shuffle partitions; an 8-partition
    // run must neither reset them for later suites nor stop the session
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    GaCli.main(Array("sga", "8", "64", "1", "0.5"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(!spark.sparkContext.isStopped)
  }
}
