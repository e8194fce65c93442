package graft

import graft.tables.SnapshotTable
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** What a copy-on-write commit pays for besides its rows: no forked
  * processes on local file I/O, and one exchange per merge.
  */
class CowCommitSpec extends SparkSpec with AdaptiveSparkPlanHelper with Eventually {
  import spark.implicits._

  private def rows(range: Range, version: Long): DataFrame =
    range.map(i => (s"k$i", version, s"v$i-$version", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")

  /** Commands of the processes started while `f` ran that name `dir`. */
  private def forksNaming(dir: String)(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val dump = Files.createTempFile("cow-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.contains(dir))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("a copy-on-write merge and the symlink, Iceberg and Delta exports start no process") {
    val root = tmpDir("cow-forks")
    val t = SnapshotTable(spark, s"$root/table")
    t.createOrReplace(rows(1 to 80, 1L), "arcane_merge_key", numBuckets = 4)
    val forks = forksNaming(root) {
      t.merge(rows(1 to 20, 2L), "arcane_merge_key", "versionnumber", "IsDelete")
      t.exportSymlinkManifest(s"$root/symlink")
      t.exportIceberg(s"$root/iceberg")
      t.exportDelta(s"$root/delta")
    }
    assert(forks.isEmpty, forks.mkString("\n"))
    assert(t.read().count() == 80)
    // the recording sees what the stock local filesystem forks
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(forksNaming(root)(stock.create(new Path(s"$root/stock.txt")).close()).nonEmpty)
  }

  test("a copy-on-write merge with known buckets has one exchange between the union and the write") {
    val t = SnapshotTable(spark, tmpDir("cow-plan"))
    t.createOrReplace(rows(1 to 200, 1L), "arcane_merge_key", numBuckets = 8)
    val staged = rows(1 to 30, 2L)
    val affected = staged.select(t.bucketExpr("arcane_merge_key", 8,
      SnapshotTable.bucketFnOf(t.properties))).distinct().as[Int].collect().toSet
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      t.merge(staged, "arcane_merge_key", "versionnumber", "IsDelete", knownAffected = Some(affected))
      val write = eventually(timeout(30.seconds)) {
        seen.asScala.map(_.executedPlan)
          .find(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
          .getOrElse(fail("no write plan reached the listener"))
      }
      val aboveUnion = collect(write) {
        case e: ShuffleExchangeLike if find(e)(_.isInstanceOf[UnionExec]).isDefined => e
      }
      assert(aboveUnion.size == 1, write.toString)
    } finally spark.listenerManager.unregister(listener)
    assert(t.read().count() == 200)
  }
}
