package graft.sources

import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.hadoop.mapreduce.{JobContext, JobStatus, OutputCommitter, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Output committer for a dir that only a manifest makes visible: a
  * table's fresh `data/c{v}-{uuid}` commit dir or a `_changes/` file
  * dir. No reader resolves such a dir by listing, so the manifest
  * rename is the commit point and Hadoop's staging protocol
  * (`_temporary/0/_temporary/attempt_*`, a rename per task and per
  * job, a `_SUCCESS` marker) publishes nothing. On a local filesystem
  * without native Hadoop every file and dir that protocol creates also
  * costs a forked `chmod`.
  *
  * Tasks write straight into the output dir under Spark's usual
  * `part-NNNNN-<jobId>` names, so the part-file prefix still equals
  * the write partition (the bucket id of a bucket-pinned commit).
  * Nothing is set up or committed; an aborted task deletes its own
  * `part-<split>-*` file, so a retried attempt of the split writes the
  * name afresh, and an aborted job deletes the whole dir.
  *
  * Two attempts of one split share a file name, so this is only safe
  * when a split never runs twice at once: under speculation
  * [[ManifestPublishedCommitter.writerOptions]] keeps Spark's stock
  * committer. */
class ManifestPublishedCommitter extends OutputCommitter {

  override def setupJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit = ()

  override def needsTaskCommit(taskContext: TaskAttemptContext): Boolean =
    false

  override def commitTask(taskContext: TaskAttemptContext): Unit = ()

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    val dir = FileOutputFormat.getOutputPath(taskContext)
    val fs = dir.getFileSystem(taskContext.getConfiguration)
    val prefix = f"part-${taskContext.getTaskAttemptID.getTaskID.getId}%05d-"
    if (fs.exists(dir))
      fs.listStatus(dir, new PathFilter {
        def accept(p: Path): Boolean = p.getName.startsWith(prefix)
      }).foreach(st => fs.delete(st.getPath, false))
  }

  override def abortJob(jobContext: JobContext,
      state: JobStatus.State): Unit = {
    val dir = FileOutputFormat.getOutputPath(jobContext)
    dir.getFileSystem(jobContext.getConfiguration).delete(dir, true)
  }
}

object ManifestPublishedCommitter {

  /** Writer options that select this committer for one parquet write.
    * Writer options land in the job's Hadoop conf, so they reach the
    * commit protocol without a session setting. The parquet key is the
    * one the tasks see: Spark's parquet write copies it into the
    * generic committer key. A DSv2 file write sets its job up before
    * that copy, so the generic key is set too. Empty under
    * speculation, where two attempts of a split may run at once and
    * only the stock committer keeps their files apart. */
  def writerOptions(spark: SparkSession): Map[String, String] =
    if (spark.sparkContext.getConf.getBoolean("spark.speculation", false))
      Map.empty
    else Seq("spark.sql.parquet.output.committer.class",
      "spark.sql.sources.outputCommitterClass")
      .map(_ -> classOf[ManifestPublishedCommitter].getName).toMap

  /** Write `df` as parquet into `dir`, a fresh dir that only a manifest
    * will make visible. */
  def writeParquet(df: DataFrame, dir: Path): Unit =
    df.write.options(writerOptions(df.sparkSession)).parquet(dir.toString)

  /** `info` plus [[writerOptions]]: the same selection for a delegated
    * DSv2 file write into such a dir. */
  def withWriterOptions(spark: SparkSession,
      info: LogicalWriteInfo): LogicalWriteInfo = {
    import scala.jdk.CollectionConverters._
    val merged = new CaseInsensitiveStringMap(
      (info.options.asCaseSensitiveMap.asScala ++ writerOptions(spark)).asJava)
    new LogicalWriteInfo {
      override def options = merged
      override def queryId = info.queryId
      override def schema = info.schema
      override def rowIdSchema = info.rowIdSchema
      override def metadataSchema = info.metadataSchema
    }
  }
}
