package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The test suite runs under the production engine configuration,
  * `EngineSession` stays the only place a session is built, and
  * `LiveScan` the only table reader that scans manifest-known files.
  */
class EngineSessionSpec extends SparkSpec {

  test("the test session carries every engine setting on 4 cores") {
    EngineSession.Settings.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.master") == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the test session resolves the fork-free local FileSystem and FileContext bindings") {
    assert(EngineSession.localFsClasses(spark.sparkContext.hadoopConfiguration) ==
      ((classOf[graft.tables.ForkFreeLocalFileSystem], classOf[graft.tables.ForkFreeLocalFs])))
  }

  /** Names of the .scala files under `roots` whose source contains `needle`. */
  private def filesContaining(needle: String, roots: String*): Seq[String] = {
    val dirs = roots.map(Paths.get(_).toAbsolutePath)
    dirs.foreach(r => assert(Files.isDirectory(r), s"$r missing (run from the repo root)"))
    dirs.flatMap(r => Files.walk(r).iterator().asScala.toSeq)
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
  }

  test("only EngineSession.scala builds a session") {
    // needles are split, so this file does not match itself
    assert(filesContaining("SparkSession" + ".builder", "src/main/scala", "src/test/scala") ==
      Seq("EngineSession.scala"))
  }

  test("only LiveScan.scala scans manifest-known files: one live-row scan for every table reader") {
    assert(filesContaining("GraftManifestRead" + ".read(", "src/main/scala/graft") == Seq("LiveScan.scala"))
  }

  test("core count: SPARK_GRAFT_CPUS sizes master and shuffle, else every core") {
    assert(EngineSession.parseCpus(None).isEmpty)
    assert(EngineSession.parseCpus(Some(" 4 ")).contains(4))
    Seq("0", "-2", "*", "four").foreach { bad =>
      val e = intercept[IllegalArgumentException](EngineSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
    assert(EngineSession.localMaster(Some(4)) == "local[4]")
    assert(EngineSession.localMaster(None) == "local[*]")
    assert(EngineSession.shufflePartitions(Some(4), fail("must not be read")) == 4)
    assert(EngineSession.shufflePartitions(None, 7) == 7)
  }
}
