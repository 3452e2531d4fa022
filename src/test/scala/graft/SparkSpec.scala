package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  // The session every main runs, at 4 threads with one task retry
  // (maxFailures = 2) for RetryReplaySpec's injected failures.
  lazy val session: SparkSession =
    HarnessSession.local("4", maxFailures = 2)
}
