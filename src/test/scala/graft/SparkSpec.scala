package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the production engine configuration, on 4 local cores
    val s = EngineSession("graft-test", cpus = Some(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
