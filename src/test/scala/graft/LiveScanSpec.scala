package graft

import graft.tables.{DeltaExport, IcebergExport, LiveScan, SnapshotTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** The one live-row scan behind the snapshot, Iceberg and Delta readers:
  * every reader attaches per-file metadata on the same canonical path,
  * and a delete-free read stays the plain manifest scan.
  */
class LiveScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("snapshot, Iceberg and Delta readers agree under a location with a space and a '+'") {
    // A path attach that mis-normalizes either side drops data rows (the
    // partition/sequence attach) or ignores deletes — pin all three
    // readers on one merge-on-read table with live equality deletes,
    // exported to Iceberg (equality deletes) and to a partitioned Delta
    // table (deletion vectors).
    val base = tmpDir("live scan+plus")
    val t = SnapshotTable(spark, s"$base/ta+ble dir")
    t.createOrReplace((1 to 60).map(i => (s"k$i", 1L, s"v$i", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", numBuckets = 4)
    t.mergeOnRead(((1 to 10).map(i => (s"k$i", 2L, (null: String), true)) ++
      (11 to 20).map(i => (s"k$i", 2L, s"u$i", false)))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    assert(t.currentSnapshot.deletes.nonEmpty, "the scenario must leave live equality deletes")
    val ice = s"$base/ice+berg out"
    val delta = s"$base/del+ta out"
    t.exportIceberg(ice)
    t.exportDelta(delta)
    intercept[IllegalStateException](DeltaExport.readFiles(
      new Path(delta).getFileSystem(spark.sparkContext.hadoopConfiguration), new Path(delta)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("arcane_merge_key", "versionnumber", "payload").as[(String, Long, String)].collect()
    val direct = rows(t.read())
    assert(direct.length == 50 && direct.toSet.size == 50)
    assert(direct.toSet == (11 to 60).map(i => (s"k$i", if (i <= 20) 2L else 1L,
      if (i <= 20) s"u$i" else s"v$i")).toSet)
    val viaDelta = DeltaExport.readTable(spark, new Path(delta))
    assert(viaDelta.columns.contains("arcane_merge_key_bucket"), "the Delta export must be partitioned")
    assert(rows(IcebergExport.readTable(spark, ice)).sorted.sameElements(direct.sorted))
    assert(rows(viaDelta).sorted.sameElements(direct.sorted))
  }

  test("a delete-free bucket read is the plain manifest scan: one FileScan, no join, no extra column") {
    val t = SnapshotTable(spark, tmpDir("live-scan-cow"))
    t.createOrReplace((1 to 40).map(i => (s"k$i", 1L, s"v$i"))
      .toDF("arcane_merge_key", "versionnumber", "payload"), "arcane_merge_key", numBuckets = 4)
    val df = t.read(Some(Set(1)))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan.toString)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.toString)
    assert(df.columns.toSeq == Seq("arcane_merge_key", "versionnumber", "payload"))
  }

  test("bucketMatches: no tuple keeps the file, a null tuple drops it, else the values compare") {
    assert(LiveScan.bucketMatches(None, 3))
    assert(!LiveScan.bucketMatches(Some(None), 3))
    assert(LiveScan.bucketMatches(Some(Some(3)), 3))
    assert(!LiveScan.bucketMatches(Some(Some("2")), "3"))
  }
}
