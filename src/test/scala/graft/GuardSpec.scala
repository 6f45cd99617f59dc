package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: `graft.Session` is the only
  * place a SparkSession is built, no code sets speculation (under
  * the local masters every main runs, a speculative copy shares the
  * same cores and only adds load), and every write into a
  * manifest-published dir goes through `ManifestPublishedCommitter`,
  * so no commit path falls back to Hadoop's staging committer, and
  * manifest file pruning is decided in one place. Spark's private
  * scheduler calls stay in one bridge, which only the SGA loop uses,
  * and the cGA never keys its draws by partition. The table layer
  * resolves its files' FileSystem in one helper. */
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

  test("one manifest file classifier: the envelope and bloom checks " +
    "have one caller, and no optimizer rule skips files") {
    // `mayMatch(` outside the two files that define (and recurse
    // through) their own `mayMatch`
    val mayMatch = raw"\bmayMatch\(".r
    val fileMayMatch = raw"\bfileMayMatch\(".r
    def calls(re: scala.util.matching.Regex, skip: Set[String]) =
      sources.flatMap { case (p, text) =>
        val rel = root.relativize(p).toString
        if (skip(rel)) Nil
        else re.findAllMatchIn(text)
          .filterNot(m => text.take(m.start).endsWith("def ")).map(_ => rel)
      }
    val owners = Set("graft/sources/DataSkipping.scala",
      "graft/sources/BloomSkipping.scala")
    assert(calls(mayMatch, owners) == Seq("graft/sources/VersionedTable.scala"))
    assert(calls(fileMayMatch, Set.empty) == Seq("graft/sources/VersionedTable.scala"))
    val classifier = Files.readString(root.resolve("graft/sources/VersionedTable.scala"))
    val body = classifier.drop(classifier.indexOf("def classifyFiles("))
    val end = body.indexOf("\n  def ", 1)
    assert(mayMatch.findFirstIn(body.take(end)).isDefined &&
      fileMayMatch.findFirstIn(body.take(end)).isDefined)
    // the optimizer rules the extensions inject: none of them prunes files
    val ext = Files.readString(root.resolve("graft/GraftExtensions.scala"))
    val injected = raw"injectOptimizerRule\(_ => graft\.plans\.(\w+)\(".r
      .findAllMatchIn(ext).map(_.group(1)).toSet
    assert(injected == Set("RangeJoinRewrite", "VersionedCountRule"))
  }

  test("graft.cga names no partition id: its draws are keyed by split, not by layout") {
    val partitionIds = raw"\b(getPartitionId|partitionId|mapPartitionsWithIndex)\b".r
    val offenders = sources.collect {
      case (p, text) if root.relativize(p).startsWith("graft/cga") &&
          partitionIds.findFirstIn(text).isDefined => root.relativize(p).toString
    }
    assert(sources.exists { case (p, _) => root.relativize(p).startsWith("graft/cga") })
    assert(offenders.isEmpty)
  }

  test("submitMapStage and doCheckpoint are named only in SchedulerBridge, " +
    "which only graft.sga calls") {
    def naming(re: scala.util.matching.Regex) = sources.collect {
      case (p, text) if re.findFirstIn(text).isDefined => root.relativize(p).toString
    }.sorted
    val bridge = "org/apache/spark/sql/graft/SchedulerBridge.scala"
    assert(naming(raw"\b(submitMapStage|doCheckpoint)\b".r) == Seq(bridge))
    assert(naming(raw"\bSchedulerBridge\b".r).filterNot(_ == bridge)
      .forall(_.startsWith("graft/sga/")))
    assert(naming(raw"\bSchedulerBridge\b".r).contains("graft/sga/Sga.scala"))
  }

  test("graft.sources resolves a FileSystem only in VersionedTable.fsOf " +
    "and in the committer's task-conf lookups") {
    val lookup = raw"\.getFileSystem\(([^)]*)\)".r
    val lookups = sources.flatMap { case (p, text) =>
      val rel = root.relativize(p).toString
      if (!rel.startsWith("graft/sources/")) Nil
      else lookup.findAllMatchIn(text).map(m => rel -> m.group(1)).toList
    }.sorted
    assert(lookups == Seq(
      "graft/sources/ManifestPublishedCommitter.scala" -> "jobContext.getConfiguration",
      "graft/sources/ManifestPublishedCommitter.scala" -> "taskContext.getConfiguration",
      "graft/sources/VersionedTable.scala" -> "conf"))
    val table = Files.readString(root.resolve("graft/sources/VersionedTable.scala"))
    val helper = table.drop(table.indexOf("def fsOf("))
    assert(helper.take(helper.indexOf("\n  }\n")).contains(".getFileSystem(conf)"))
  }
}
