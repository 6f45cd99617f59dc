package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.functions._

/** Commits write their dirs in place through
  * [[ManifestPublishedCommitter]]: no staging dirs, no `_SUCCESS`,
  * and a failed write or task attempt leaves nothing a later commit or
  * reader could trip over. */
class ManifestPublishedCommitterSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mpc_wh").toFile
    d.deleteOnExit()
    spark.conf.set("spark.sql.catalog.gmpc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmpc.warehouse", d.getAbsolutePath)
    d.getAbsolutePath
  }

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtable_mpc").toFile
    d.deleteOnExit()
    new File(d, "tbl").getAbsolutePath
  }

  private def ids(root: String, v: Option[Int] = None): Seq[Long] =
    VersionedTable.read(spark, root, v).select("id").as[Long]
      .collect().toSeq.sorted

  // every entry below `<root>/data` and `<root>/_changes`, raw (the
  // java.io view also shows `.crc` files and empty dirs)
  private def writtenDirs(root: String): Seq[File] =
    Seq("data", "_changes").map(new File(root, _)).filter(_.isDirectory)
      .flatMap(_.listFiles.toSeq)

  private val PartFile = """(\.)?part-\d{5}-.*""".r

  private def assertInPlace(root: String): Unit = {
    val dirs = writtenDirs(root)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      assert(d.isDirectory, s"$d")
      val names = d.list.toSeq
      assert(names.nonEmpty, s"$d is empty")
      names.foreach {
        case n @ PartFile(dot) =>
          assert((dot != null) == n.endsWith(".crc"), s"$d/$n")
        case n => fail(s"$d holds $n")
      }
    }
  }

  test("every commit path writes only part files and their checksums: " +
    "no _SUCCESS, no _temporary") {
    assert(ManifestPublishedCommitter.writerOptions(spark).values.toSet ==
      Set(classOf[ManifestPublishedCommitter].getName))
    // plain writes and the change-file dir
    val plain = freshRoot()
    VersionedTable.init(spark, plain, spark.range(0, 40).toDF("id"))
    VersionedTable.append(spark, plain, spark.range(40, 60).toDF("id"), 0)
    VersionedTable.enableChangeFeed(spark, plain, "id")
    VersionedTable.update(spark, plain, col("id") < 5,
      Seq("id" -> (col("id") + 1000)))
    assert(new File(plain, "_changes").list.nonEmpty)
    assertInPlace(plain)
    // the bucket-pinned write on the AQE-off clone
    val bucketed = freshRoot()
    VersionedTable.init(spark, bucketed, spark.range(0, 40).toDF("id"))
    VersionedTable.enableBucketing(spark, bucketed, "id", 4)
    VersionedTable.append(spark, bucketed, spark.range(40, 80).toDF("id"), 1)
    assertInPlace(bucketed)
    // the cluster-pinned write
    val clustered = freshRoot()
    VersionedTable.init(spark, clustered, spark.range(0, 40).toDF("id"))
    VersionedTable.enableClustering(spark, clustered, Seq("id"))
    VersionedTable.append(spark, clustered, spark.range(40, 80).toDF("id"), 1)
    assertInPlace(clustered)
    // the SQL row-level write, delegated to Spark's parquet writer
    wh
    spark.sql("CREATE TABLE gmpc.t1 (id BIGINT, s STRING)")
    spark.sql("INSERT INTO gmpc.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("""MERGE INTO gmpc.t1 t
      USING (SELECT 2L AS id, 'b2' AS s UNION ALL SELECT 9L, 'i') src
      ON t.id = src.id
      WHEN MATCHED THEN UPDATE SET t.s = src.s
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("DELETE FROM gmpc.t1 WHERE id = 1")
    assert(spark.sql("SELECT id, s FROM gmpc.t1 ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((2L, "b2"), (3L, "c"), (9L, "i")))
    assertInPlace(s"$wh/t1")
  }

  test("a write whose task throws leaves no commit dir and no new " +
    "manifest; the table still reads the previous version") {
    val root = freshRoot()
    VersionedTable.init(spark, root, spark.range(0, 10).toDF("id"))
    val before = new File(root, "data").list.toSet
    // one task, so the failed job has no sibling task still writing
    // when its abort removes the dir
    val failing = spark.range(10, 20, 1, 1).select(
      when(col("id") === 15L, raise_error(lit("boom")))
        .otherwise(col("id")).as("id"))
    intercept[Exception](VersionedTable.append(spark, root, failing, 0))
    assert(new File(root, "data").list.toSet == before)
    assert(VersionedTable.latestVersion(spark, root) == 0)
    assert(ids(root) == (0L until 10L))
  }

  test("after a failed attempt's abortTask, a retried attempt of the " +
    "same split commits its rows exactly once") {
    val root = freshRoot()
    VersionedTable.init(spark, root, spark.range(100, 110).toDF("id"))
    val commitName = VersionedTable.newCommitName(1)
    val dataDir = new Path(new Path(root, "data"), commitName)
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(FileOutputFormat.OUTDIR, dataDir.toString)
    val fs = dataDir.getFileSystem(conf)
    val scratch = freshRoot()
    var n = 0
    // a task attempt writing `rows` under split `split`'s file name —
    // the name every attempt of that split shares
    def attemptWrites(split: Int, rows: Seq[Long]): Boolean = {
      n += 1
      val tmp = new Path(scratch, s"w$n")
      rows.toDF("id").coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      fs.mkdirs(dataDir)
      fs.rename(part, new Path(dataDir, f"part-$split%05d-job-c000.parquet"))
    }
    def attempt(split: Int, id: Int) = new TaskAttemptContextImpl(conf,
      new TaskAttemptID("mpc", 0, TaskType.MAP, split, id))
    val committer = new ManifestPublishedCommitter
    committer.setupJob(attempt(0, 0))
    assert(attemptWrites(1, 10L until 20L))
    // split 0's first attempt wrote part of its rows, then failed
    assert(attemptWrites(0, 0L until 5L))
    committer.abortTask(attempt(0, 0))
    assert(new File(dataDir.toUri.getPath).list.toSeq.sorted ==
      Seq(".part-00001-job-c000.parquet.crc", "part-00001-job-c000.parquet"))
    // the retry finds its file name free again
    assert(attemptWrites(0, 0L until 10L))
    assert(!committer.needsTaskCommit(attempt(0, 1)))
    committer.commitJob(attempt(0, 0))
    VersionedTable.publishDir(spark, root, commitName, 0,
      carryDirs = VersionedTable.dataDirs(spark, root, Some(0)),
      metaLines = Seq("#op:append"))
    assert(ids(root) == (0L until 20L) ++ (100L until 110L))
  }

  test("a delete that removes every row of its affected dirs still " +
    "commits a readable version") {
    val root = freshRoot()
    VersionedTable.init(spark, root, spark.range(0, 10).toDF("id"))
    VersionedTable.append(spark, root, spark.range(10, 20).toDF("id"), 0)
    // stats prune v0's dir; the rewrite of v1's dir keeps no row
    assert(VersionedTable.delete(spark, root, col("id") >= 10L) == 2)
    assert(ids(root) == (0L until 10L))
    assert(VersionedTable.delete(spark, root, lit(true)) == 3)
    assert(ids(root).isEmpty)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id"))
    // the SQL spelling
    wh
    spark.sql("CREATE TABLE gmpc.t2 (id BIGINT)")
    spark.sql("INSERT INTO gmpc.t2 VALUES (1), (2)")
    spark.sql("INSERT INTO gmpc.t2 VALUES (3), (4)")
    spark.sql("DELETE FROM gmpc.t2 WHERE id >= 3")
    assert(spark.sql("SELECT id FROM gmpc.t2 ORDER BY id").as[Long]
      .collect().toSeq == Seq(1L, 2L))
    spark.sql("DELETE FROM gmpc.t2")
    assert(spark.sql("SELECT count(*) FROM gmpc.t2").as[Long].head == 0L)
  }
}
