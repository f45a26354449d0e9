package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate dedupes across suites in the same forked test JVM). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session
  def sf(s: String): String = s"/root/testdata/$s"

  /** Runs `f` on a fresh temp directory and deletes it afterwards. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}

object GraftSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf — honored only by the first session on the context,
      // so the injection test (PlanSpec) must run against THIS session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
