package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites, built on the session contract
  * ([[GraftSession.local]]) with four cores and four shuffle partitions:
  * test fixtures are tiny and 200 empty partitions only slow the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  /** Checkpoint home of the test session: a fresh temp dir per test JVM, so
    * `Reuse.materialize` writes its files where a cluster deployment would,
    * without sharing the default home. */
  lazy val checkpointDir: String =
    java.nio.file.Files.createTempDirectory("graft-test-ckpt").toString

  lazy val session: SparkSession =
    GraftSession.local("graft-test", 4)
      .config("spark.checkpoint.dir", checkpointDir)
      .getOrCreate()
}
