package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: `graft.Session` is the only
  * place a SparkSession is built, no code sets speculation (under
  * the local masters every main runs, a speculative copy shares the
  * same cores and only adds load), and every write into a
  * manifest-published dir goes through `ManifestPublishedCommitter`,
  * so no commit path falls back to Hadoop's staging committer. */
class GuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    val builders = sources.collect {
      case (p, text) if text.contains("SparkSession.builder") => root.relativize(p).toString
    }
    assert(builders == Seq("graft/Session.scala"))
  }

  test("no source sets spark.speculation") {
    // the one use allowed is the committer's read of the setting
    val read = "getConf.getBoolean(\"spark.speculation\", false)"
    val offenders = sources.collect {
      case (p, text) if text.replace(read, "").contains("\"spark.speculation\"") =>
        root.relativize(p).toString
    }
    assert(offenders.isEmpty)
  }

  test("the manifest-published committer is selected only by its helper, " +
    "and VersionedTable writes no parquet outside it") {
    val selectors = sources.collect {
      case (p, text) if text.contains("spark.sql.parquet.output.committer.class") ||
          text.contains("spark.sql.sources.outputCommitterClass") =>
        root.relativize(p).toString
    }
    assert(selectors == Seq("graft/sources/ManifestPublishedCommitter.scala"))
    // `.write` not followed by `(` nor part of a package name: a
    // DataFrameWriter, not a stream's write
    val writer = raw"(?<!connector)\.write\b(?!\s*\()".r
    val table = Files.readString(root.resolve("graft/sources/VersionedTable.scala"))
    assert(writer.findAllMatchIn(table).map(m => table.take(m.start).count(_ == '\n') + 1)
      .toSeq.isEmpty)
  }
}
