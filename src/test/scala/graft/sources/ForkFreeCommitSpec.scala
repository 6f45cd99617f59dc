package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._

/** Table commits on a `file:` root start no `chmod` process. Without
  * native Hadoop the stock local FileSystem forks one for every file,
  * `.crc` and dir it creates; JFR's `jdk.ProcessStart` event sees
  * each fork, whichever thread (driver or executor) makes it. */
class ForkFreeCommitSpec extends SparkSpec {

  import SparkSpec.session.implicits._

  private def freshDir(prefix: String): java.io.File = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  /** The commands of the processes `body` starts. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  test("init, append, merge, update, delete, compactSmall, vacuum and a " +
    "catalog MERGE INTO fork no chmod") {
    // Hadoop's Shell forks `setsid` once in its static init; keep that
    // out of the recording
    Class.forName("org.apache.hadoop.util.Shell")
    val root = new java.io.File(freshDir("graft_forkfree"), "tbl")
      .getAbsolutePath
    val wh = freshDir("graft_forkfree_wh").getAbsolutePath
    spark.conf.set("spark.sql.catalog.gfork", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfork.warehouse", wh)
    val started = processStarts {
      VersionedTable.init(spark, root,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "body"))
      VersionedTable.append(spark, root,
        Seq((4L, "d"), (5L, "e")).toDF("id", "body"), 0)
      VersionedTable.merge(spark, root,
        Seq((2L, "b2", "U"), (3L, "", "D"), (9L, "i", "U"))
          .toDF("id", "body", "op"), "id")
      VersionedTable.update(spark, root, col("id") === 1L,
        Seq("body" -> lit("a2")))
      VersionedTable.delete(spark, root, col("id") === 4L)
      VersionedTable.compactSmall(spark, root, smallDirMaxRows = 100L)
      VersionedTable.vacuum(spark, root, keepVersions = 1, retainMillis = 0L)
      spark.sql("CREATE TABLE gfork.t (id BIGINT, s STRING)")
      spark.sql("INSERT INTO gfork.t VALUES (1, 'a'), (2, 'b')")
      spark.sql("""MERGE INTO gfork.t t
        USING (SELECT 2L AS id, 'b2' AS s UNION ALL SELECT 9L, 'i') src
        ON t.id = src.id
        WHEN MATCHED THEN UPDATE SET t.s = src.s
        WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(VersionedTable.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a2", 2L -> "b2", 5L -> "e", 9L -> "i"))
    assert(spark.sql("SELECT id, s FROM gfork.t ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b2", 9L -> "i"))
    val chmods = started.filter(_.contains("chmod"))
    assert(chmods.size == 0,
      s"${chmods.size} chmod forks of ${started.size} process starts, " +
        s"first: ${chmods.headOption}")
  }

  test("Spark's stock committer, which commit writes keep under " +
    "speculation, commits through NioLocalFileSystem without a chmod") {
    val dir = new java.io.File(freshDir("graft_forkfree_stock"), "out")
    val started = processStarts {
      spark.range(0, 100, 1, 4).toDF("id").write
        .options(NioLocalFileSystem.writeOptions).parquet(dir.getAbsolutePath)
    }
    assert(new java.io.File(dir, "_SUCCESS").isFile)
    assert(spark.read.parquet(dir.getAbsolutePath).as[Long].collect().sorted
      .toSeq == (0L until 100L))
    assert(started.count(_.contains("chmod")) == 0, started)
  }
}
