package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profiler for one query: runs a named SparkEntry query N
  * times with a listener that records every Spark job's wall time and
  * call site, then prints a per-job breakdown plus the driver-side gap
  * (wall − Σjobs). This is the measurement half of the optimization
  * guide §1 (empirical loop) for the lifecycle gate rows, whose cost is
  * many small commits: the breakdown shows whether a row's seconds sit
  * in Spark jobs (scan/shuffle/write) or in driver-side manifest I/O.
  *
  * Usage: runMain graft.ProfileJobs <query> [reps] [sfDir]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("pipeline_versioned_delete")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session.local(Session.cpus())
    val fn = SparkEntry.queries(name)
    // warmup (JIT/codegen/footers), untimed
    fn(spark, sfDir).count()

    case class J(id: Int, start: Long, var end: Long = -1,
      var site: String = "")
    val jobs = new scala.collection.concurrent.TrieMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(si =>
          si.name + " [" + js.stageInfos.map(_.numTasks).sum + " tasks/" +
            js.stageInfos.size + " stages]").getOrElse("?")
        jobs.put(js.jobId, J(js.jobId, js.time, site = site))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach(_.end = je.time)
    })
    (1 to reps).foreach { r =>
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener drain
      val js = order.toArray(Array.empty[Integer]).map(i => jobs(i))
      val jsum = js.map(j => math.max(0, j.end - j.start)).sum / 1e3
      println(f"== $name rep $r: wall $wall%.3f s, ${js.length} jobs, " +
        f"sum(jobs) $jsum%.3f s, driver gap ${wall - jsum}%.3f s")
      js.foreach { j =>
        val d = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
        println(f"  job ${j.id}%4d ${d}%7.3f s  ${j.site}")
      }
    }
    spark.stop()
  }
}
