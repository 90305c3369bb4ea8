package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GenTables

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite under sbt's forked-test budget). */
object TestSession {
  private val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toString
  sys.addShutdownHook(GenTables.deleteDirTree(warehouse))
  lazy val spark: SparkSession = Sessions.local(4, warehouseDir = Some(warehouse))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf

  private val scopedDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh temp dir named `prefix*`, deleted when the running test's
    * body returns or throws. Call it only from inside a test. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    scopedDirs.add(dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!scopedDirs.isEmpty) GenTables.deleteDirTree(scopedDirs.poll())
}
