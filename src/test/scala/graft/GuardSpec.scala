package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: `graft.Session` is the only
  * place a SparkSession is built, and no code sets speculation (under
  * the local masters every main runs, a speculative copy shares the
  * same cores and only adds load). */
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
    val offenders = sources.collect {
      case (p, text) if text.contains("\"spark.speculation\"") => root.relativize(p).toString
    }
    assert(offenders.isEmpty)
  }
}
