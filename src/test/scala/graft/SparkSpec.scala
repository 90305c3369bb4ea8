package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite under sbt's forked-test budget). */
object TestSession {
  lazy val spark: SparkSession = Sessions.local(4, warehouseDir =
    Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
