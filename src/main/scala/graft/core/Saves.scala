package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The saves of a durable GA run: one `<prefix>k` dir under its root
  * per saved generation or iteration k (reference op 22's per-iteration
  * HDFS dir, MapReduce.java:298-302, CGA.java:503-519). */
object Saves {

  /** The highest k whose `<prefix>k` dir under `root` holds `_SUCCESS`,
    * which a Spark write commits last: a save cut short leaves its dir
    * without it (holding only `_temporary/`), and a resume continues
    * from the save before. */
  def latest(spark: SparkSession, root: String, prefix: String): Option[Int] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath)
      .filter(d => d.getName.startsWith(prefix) && fs.exists(new Path(d, "_SUCCESS")))
      .map(_.getName.drop(prefix.length).toInt).maxOption
  }
}
