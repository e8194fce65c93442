package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.cdm.CsvCast
import graft.ops.{FieldSelection, LatestVersionDedup, MergeKey}
import graft.pipeline.{CdcPipeline, StreamSpec}
import graft.sources.SynapseCdmLayout
import graft.tables.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The traced replay of a stream workload: the same folders the stream
  * took, closed one batch at a time, pushed through the same public calls
  * a micro-batch makes, with one span per call.  Each span's input is
  * materialised before it starts, so spans never overlap and a span's time
  * is its own.
  *
  * Locations in the spec may use the `counting:` scheme, so each span also
  * reports the files it opened.
  */
object Replay {
  def run(spark: SparkSession, c: JsonNode): ObjectNode = {
    val spec = StreamSpec.fromJson(c.path("spec").asText())
    val staging = c.path("staging").asText()
    val localRoot = c.path("local_root").asText()
    val keyCol = c.path("key_col").asText()
    val keyType = c.path("key_type").asText()
    val lookupKeys = c.path("lookups")
    val spans = new Spans(spark.sparkContext)
    val conf = spark.sparkContext.hadoopConfiguration
    val layout = SynapseCdmLayout(spec.sourcePath, spec.entityName, "Changelog/changelog.info",
      spec.listingRetry)
    val table = SnapshotTable(spark, spec.targetLocation)
    spans("pipeline", "backfill")(CdcPipeline.runBackfill(spark, spec))
    val batches = Agent.mapper.createArrayNode()
    var prevWm = table.properties.getOrElse(SnapshotTable.PropWatermark, "")
    var batchNumber = 0L
    c.path("batches").elements().forEachRemaining { b =>
      val folders = Agent.strings(b)
      val first = spans.done.size
      // close the batch's folders the way the generator does
      val t0 = System.nanoTime()
      folders.foreach(f => Files.move(Paths.get(staging, f), Paths.get(localRoot, f),
        StandardCopyOption.ATOMIC_MOVE))
      val cl = Paths.get(localRoot, "Changelog")
      Files.write(cl.resolve(".tmp"), folders.last.getBytes(StandardCharsets.UTF_8))
      Files.move(cl.resolve(".tmp"), cl.resolve("changelog.info"), StandardCopyOption.ATOMIC_MOVE)

      val (newest, inRange) = spans("sources", "list") {
        val newest = layout.changelogValue(conf).get
        val inRange = layout.foldersInRange(conf, prevWm, newest)
        inRange.foreach(f => layout.chunkFiles(conf, f))
        (newest, inRange)
      }
      val typedSchema = layout.entitySchema(conf, Some(newest))
      val raw = spans("sources", "scan") {
        eager(spark.read.format("synapse-cdm").option("path", spec.sourcePath)
          .option("entity", spec.entityName).option("backfillStartDate", inRange.head).load())
      }
      // the stream's one action over the raw batch: its row count and, for
      // a copy-on-write merge on string keys, the affected buckets hashed
      // from the raw keys, which the merge then takes as known
      val bucketAgg =
        if (table.exists && !spec.useMergeOnRead &&
            CdcPipeline.rawKeyBucketsStable(typedSchema, spec.keyColumns)) {
          val snap = table.currentSnapshot
          Some(collect_set(SnapshotTable.bucketColumn(MergeKey.expression(spec.keyColumns.map(raw.col)),
            snap.numBuckets, SnapshotTable.bucketFnOf(snap.properties))))
        } else None
      val head = raw.agg(count(lit(1)), bucketAgg.toSeq: _*).head()
      val rawRows = head.getLong(0)
      val affected = bucketAgg.map(_ => head.getSeq[Int](1).toSet)
      val typed = spans("cdm", "cast") {
        eager(CsvCast(typedSchema, raw.drop("_folder", "_chunk_idx", "_chunk_last")))
      }
      val staged = spans("ops", "stage") {
        eager(LatestVersionDedup(MergeKey(FieldSelection(typed, spec.fieldSelectionRule,
          spec.essentialFields), spec.keyColumns), MergeKey.ColumnName, spec.versionColumn))
      }
      val stagedRows = staged.count()
      val deduped =
        if (spec.dedupTextColumn.isEmpty) staged
        else spans("streaming", "dedup")(eager(CdcPipeline.contentDedupBatch(staged, spec, batchNumber, table)))
      val dedupRows = deduped.count()
      val before = table.currentSnapshot
      spans("tables", if (spec.useMergeOnRead) "mor" else "merge") {
        CdcPipeline.mergeBatch(table, deduped, spec, newest, affected)
      }
      val after = table.currentSnapshot
      spec.exportDir.foreach(d => spans("export", "symlink")(table.exportSymlinkManifest(d)))
      spec.icebergExportDir.foreach(d => spans("export", "iceberg")(table.exportIceberg(d)))
      spec.deltaExportDir.foreach(d => spans("export", "delta")(table.exportDelta(d, spec.deleteBroadcastMaxRows)))
      batchNumber += 1
      // CdcPipeline.maintenanceTick's cadence, one span per step
      val m = spec.maintenance
      var compactBytes = 0L
      if (m.batchThreshold > 0 && batchNumber % m.batchThreshold == 0) {
        val pre = table.currentSnapshot.files.map(_.path).toSet
        val post = spans("maintenance", "compact")(table.compact(m.fileSizeThresholdBytes))
        compactBytes = post.files.filterNot(f => pre(f.path)).map(_.bytes.max(0L)).sum
        val cutoff = System.currentTimeMillis() - m.snapshotRetentionMs
        spans("maintenance", "expire")(table.expireSnapshots(cutoff))
        // the same table under file:, because listFiles cannot build file
        // statuses for the counting: scheme
        spans("maintenance", "orphans")(SnapshotTable(spark,
          spec.targetLocation.replaceFirst("^counting:", "file:")).removeOrphanFiles(cutoff))
      }
      if (spec.dedupIndexLocation.isDefined && spec.dedupIndexCompactEvery > 0 &&
          batchNumber % spec.dedupIndexCompactEvery == 0)
        spans("streaming", "index_compact")(
          graft.streaming.StreamOps.compactBandIndex(spark, spec.dedupIndexLocation.get))
      val wallMs = (System.nanoTime() - t0) / 1e6
      // reads after the commit: bucket-pruned point lookups
      val lk = lookupKeys.path(batches.size())
      val snap = table.currentSnapshot
      val fn = SnapshotTable.bucketFnOf(snap.properties)
      Agent.strings(lk).foreach { k =>
        val bucket = spark.range(1).select(SnapshotTable.bucketColumn(
          MergeKey.expression(Seq(lit(k).cast(keyType))), snap.numBuckets, fn)).head().getInt(0)
        spans("tables", "lookup") {
          table.read(Some(Set(bucket))).where(col(keyCol) === lit(k).cast(keyType)).collect()
        }
      }
      val oldFiles = before.files.map(_.path).toSet
      val newFiles = after.files.filterNot(f => oldFiles(f.path))
      val removed = before.files.filterNot(f => after.files.exists(_.path == f.path))
      val newDeletes = after.deletes.filterNot(d => before.deletes.exists(_.path == d.path))
      prevWm = newest
      batches.add(Agent.obj("folders" -> folders.size, "wall_ms" -> wallMs,
        "span_ms" -> spans.done.drop(first).filter(_.name != "lookup").map(_.wallMs).sum,
        "raw_rows" -> rawRows, "staged_rows" -> stagedRows, "dedup_rows" -> dedupRows,
        "buckets_rewritten" -> removed.map(_.bucket).distinct.size,
        "rows_written" -> newFiles.map(_.rows.max(0L)).sum,
        "files_written" -> (newFiles.size + newDeletes.size),
        "bytes_written" -> (newFiles.map(_.bytes.max(0L)).sum + newDeletes.map(_.bytes.max(0L)).sum),
        "snapshots_live" -> table.snapshotVersions.size,
        "files_live" -> after.files.size, "delete_files_live" -> after.deletes.size,
        "compact_bytes" -> compactBytes,
        "index_files" -> spec.dedupIndexLocation.map(countFiles).getOrElse(0L)))
    }
    Agent.obj("spans" -> spansJson(spans.done.toSeq), "batches" -> batches,
      "unattributed" -> workJson(spans.unattributed))
  }

  /** Materialise a frame so the next span starts from computed rows. */
  private def eager(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Files under a local directory (any scheme; counted on disk). */
  private def countFiles(dir: String): Long = {
    val root = Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
    if (!Files.exists(root)) 0L else Files.walk(root).filter(Files.isRegularFile(_)).count()
  }

  def workJson(w: Work): ObjectNode = Agent.obj("jobs" -> w.jobs, "tasks" -> w.tasks,
    "task_ms" -> w.taskMs, "input_bytes" -> w.inputBytes,
    "shuffle_write_bytes" -> w.shuffleWriteBytes, "gc_ms" -> w.gcMs)

  def spansJson(spans: Seq[Span]): ArrayNode = {
    val a = Agent.mapper.createArrayNode()
    spans.foreach(s => a.add(Agent.obj("layer" -> s.layer, "name" -> s.name, "ms" -> s.wallMs,
      "files_opened" -> s.filesOpened, "bytes_opened" -> s.bytesOpened, "work" -> workJson(s.work))))
    a
  }
}
