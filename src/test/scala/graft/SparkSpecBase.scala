package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(name: String): String = s"/root/testdata/$name"

  /** Timestamp helper: seconds offset from a fixed epoch base. */
  def t(secs: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + secs * 1000L) // 2024-01-01T00:00:00Z

  /** Runs `f` on a fresh temp directory and deletes it afterwards. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  def assertClose(a: Double, b: Double, tol: Double = 1e-9): Unit =
    assert(math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b))),
      s"$a !~ $b")
}
