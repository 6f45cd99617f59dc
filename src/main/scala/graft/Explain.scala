package graft

/** Plan-inspection main: prints the formatted physical plan of each
  * named query (all queries when no names given) so scan pushdown
  * (`PushedFilters`, pruned `ReadSchema`), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen spans
  * can be audited — the per-operator checklist from the builder brief.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the same session as graft.Bench, so the dumped plans are the
    // plans the bench actually times
    val spark = Session.local(Session.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable =>
            println(s"explain failed: ${e.getMessage.linesIterator.next()}") }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
