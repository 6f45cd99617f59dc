package org.apache.spark.sql.graft

import org.apache.spark.ShuffleDependency

/** Runs a shuffle's map stage as an action of its own: the job Spark
  * SQL's adaptive execution submits for each query stage
  * (`submitMapStage`), then the checkpoints it completes, as `runJob`
  * does after its job (`doCheckpoint`). Both are private[spark]; see
  * [[ColumnBridge]] for the pattern's rationale. */
object SchedulerBridge {
  def runMapStage(dep: ShuffleDependency[_, _, _]): Unit = {
    dep.rdd.sparkContext.submitMapStage(dep).get()
    dep.rdd.doCheckpoint()
  }
}
