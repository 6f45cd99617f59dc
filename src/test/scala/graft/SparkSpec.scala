package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed suites: the engine session
  * every main builds (`graft.Session`, extensions included) at 4 CPUs,
  * one per JVM, so suites see the same semantics and optimizer rules
  * as Verify/Bench. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
