package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. One session per JVM
  * (getOrCreate) keeps the test run fast; suites must not mutate
  * global conf beyond what Tables needs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** A fresh temp dir under `prefix`, deleted when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = Scratch.dir(prefix)
}

object SparkSpec {
  // the harness session, so specs exercise the injected optimizer
  // rules (MetadataOnlyCount) and native functions exactly as
  // Bench/Verify do
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
