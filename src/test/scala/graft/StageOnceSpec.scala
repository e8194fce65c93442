package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.{CdcPipeline, StreamSpec}
import graft.tables.SnapshotTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDD, DataSourceV2ScanExecBase}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{OffsetDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A stream micro-batch is staged once: one job parses, casts, keys and
  * dedups the CSV chunks into a checkpoint that carries the batch facts,
  * and the merge reads the staged rows from it.
  */
class StageOnceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val now = OffsetDateTime.of(2026, 1, 2, 12, 0, 0, 0, ZoneOffset.UTC)
  private val mapper = new ObjectMapper()

  /** Whether `rdd`'s lineage reaches a data-source read: the micro-batch a
    * foreachBatch body receives is an RDD scan over the source's RDD.
    */
  private def readsSource(rdd: RDD[_]): Boolean =
    rdd.isInstanceOf[DataSourceRDD] || rdd.dependencies.exists(d => readsSource(d.rdd))

  private def scansSource(p: SparkPlan): Boolean =
    collectWithSubqueries(p) {
      case s: DataSourceV2ScanExecBase => s
      case s: RDDScanExec if readsSource(s.rdd) => s
    }.nonEmpty

  /** The `batch_committed` events a stream shipped to `log`. */
  private def committed(log: String): Seq[JsonNode] =
    if (!Files.exists(Paths.get(log))) Seq.empty
    else Files.readAllLines(Paths.get(log)).asScala.toSeq.map(mapper.readTree)
      .filter(_.get("event").asText() == "batch_committed")

  private def put(root: String, parts: String*)(content: String): Unit = {
    val p = Paths.get(root, parts: _*)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  test("a copy-on-write batch scans the source once and merges from the staged checkpoint") {
    val root = tmpDir("stage-once-src")
    val target = tmpDir("stage-once-target")
    val log = s"${tmpDir("stage-once-log")}/events.jsonl"
    CdmFixture.initRoot(root)
    CdmFixture.uploadBatch(root, now.minusHours(3), updateChangelog = true, chunkSeed = 1)
    val spec = StreamSpec(root, CdmFixture.entityName, target, numBuckets = 4,
      changeCaptureIntervalSeconds = 1, logShipAddress = Some(s"file:$log"))
    CdcPipeline.runBackfill(spark, spec)
    CdmFixture.uploadBatch(root, now.minusHours(2), addDelete = true, addUpsert = true,
      updateChangelog = true, chunkSeed = 2)

    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // registered before the stream starts: its session clones the listeners
    spark.listenerManager.register(listener)
    try {
      val q = CdcPipeline.startStream(spark, spec)
      try q.processAllAvailable() finally q.stop()
    } finally spark.listenerManager.unregister(listener)

    val plans = seen.asScala.toSeq.map(_.executedPlan)
    assert(plans.count(scansSource) === 1, plans.mkString("\n"))
    val writes = plans.filter(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
    assert(writes.size === 1, writes.mkString("\n"))
    val write = writes.head
    // the staged rows come from the batch's checkpoint, not the CSV chunks
    assert(collectWithSubqueries(write) {
      case s: RDDScanExec if s.name == "ExistingRDD" && s.rdd.isCheckpointed => s
    }.nonEmpty, write.toString)
    assert(!scansSource(write), write.toString)
    assert(collectWithSubqueries(write) { case s: InMemoryTableScanExec => s }.isEmpty,
      write.toString)

    val table = SnapshotTable(spark, target)
    assert(table.read().count() === 6)
    assert(table.read().where(col("Id") === CdmFixture.id2).select("versionnumber")
      .head().getLong(0) === 2111000012L)
    val events = committed(log)
    assert(events.size === 1, events)
    val e = events.head
    // 5 base rows + 1 delete + 3 upserts; 7 distinct keys once deduped
    assert(e.get("rows").asLong() === 9L && e.get("rows_staged").asLong() === 7L, e)
    assert(e.get("stage_ms").asLong() >= 0L && e.has("merge_ms") && e.has("export_ms"), e)
    assert(e.get("affected_buckets").asText() != "all", e)
    assert(!e.has("rows_after_content_dedup"), e)
  }

  test("a closed folder whose chunk holds no rows commits nothing; the next folder commits") {
    val root = tmpDir("stage-empty-src")
    val target = tmpDir("stage-empty-target")
    CdmFixture.initRoot(root)
    val first = CdmFixture.uploadBatch(root, now.minusHours(3), updateChangelog = true, chunkSeed = 1)
    val spec = StreamSpec(root, CdmFixture.entityName, target, numBuckets = 4,
      changeCaptureIntervalSeconds = 1, checkpointLocation = Some(tmpDir("stage-empty-ckpt")))
    CdcPipeline.runBackfill(spark, spec)
    val table = SnapshotTable(spark, target)
    val before = table.currentSnapshot.version

    val empty = CdmFixture.folderName(now.minusHours(2))
    put(root, empty, "model.json")(CdmFixture.modelJson())
    put(root, empty, CdmFixture.entityName, "1.csv")("")
    CdmFixture.stampChangelog(root, empty)
    val q = CdcPipeline.startStream(spark, spec)
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(q.recentProgress.exists(_.sources.exists(s =>
        s.endOffset != null && s.endOffset.contains(empty))),
        "the empty folder's micro-batch must have run")
      assert(table.currentSnapshot.version === before, "an empty batch commits nothing")
      assert(table.properties(SnapshotTable.PropWatermark) === first)

      val next = CdmFixture.uploadBatch(root, now.minusHours(1), addUpsert = true,
        updateChangelog = true, chunkSeed = 3)
      q.processAllAvailable()
      assert(table.properties(SnapshotTable.PropWatermark) === next)
      assert(table.read().count() === 7)
    } finally q.stop()
  }

  test("int64 keys with zero-padded raw text stream into the buckets of their typed values") {
    val root = tmpDir("stage-int64-src")
    val target = tmpDir("stage-int64-target")
    val log = s"${tmpDir("stage-int64-log")}/events.jsonl"
    val model =
      """{"name":"cdm","version":"1","entities":[{"$type":"LocalEntity","name":"num_e","attributes":[
        |{"name":"Id","dataType":"int64"},{"name":"versionnumber","dataType":"int64"},
        |{"name":"payload","dataType":"string"},{"name":"IsDelete","dataType":"boolean"}]}]}""".stripMargin
    def folder(ts: OffsetDateTime, rows: Seq[(Int, Long)]): String = {
      val name = CdmFixture.folderName(ts)
      put(root, name, "model.json")(model)
      put(root, name, "num_e", "0.csv")(
        rows.map { case (k, v) => f"$k%04d,$v,\"p$k-$v\"," }.mkString("\n") + "\n")
      CdmFixture.stampChangelog(root, name)
      name
    }
    put(root, "model.json")(model)
    folder(now.minusHours(3), (1 to 40).map(_ -> 1L))
    val spec = StreamSpec(root, "num_e", target, numBuckets = 8,
      changeCaptureIntervalSeconds = 1, logShipAddress = Some(s"file:$log"))
    CdcPipeline.runBackfill(spark, spec)
    folder(now.minusHours(2), (31 to 60).map(_ -> 2L))
    val q = CdcPipeline.startStream(spark, spec)
    try q.processAllAvailable() finally q.stop()

    val table = SnapshotTable(spark, target)
    val snap = table.currentSnapshot
    val fn = SnapshotTable.bucketFnOf(snap.properties)
    graft.sql.GraftExtensions.ensureRegistered(spark)
    val keys = 1 to 60
    val bucketOf = spark.createDataFrame(keys.map(k => Tuple1(k.toString)))
      .select(col("_1"), SnapshotTable.bucketColumn(col("_1"), snap.numBuckets, fn))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.groupBy(k => bucketOf(k.toString)).foreach { case (b, ks) =>
      val got = table.read(Some(Set(b))).select("Id", "versionnumber").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ks.foreach { k =>
        assert(got.get(k.toLong).contains(if (k > 30) 2L else 1L), s"key $k in bucket $b: $got")
      }
    }
    assert(table.read().count() === 60)
    val events = committed(log)
    assert(events.size === 1, events)
    assert(events.head.get("affected_buckets").asText() != "all", events.head)
    assert(events.head.get("rows_staged").asLong() === 30L, events.head)
  }
}
