package graft.pipeline

import graft.cdm.CsvCast
import graft.ops.{Checkpoints, FieldSelection, LatestVersionDedup, MergeKey}
import graft.sources.SynapseCdmLayout
import graft.tables.SnapshotTable
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The CDC ingestion pipeline — reference lifecycle §3.1/§3.2 of SURVEY.md,
  * re-expressed as Structured Streaming + a batch backfill job.
  *
  * Stage order inside one micro-batch mirrors the reference's processor
  * graph (`/root/reference/src/main/scala/main.scala:57-117`):
  * source scan → typed casts → field selection → merge-key derivation →
  * latest-version dedup → schema migration → MERGE → watermark → scheduled
  * maintenance.
  */
object CdcPipeline {

  /** Transform a raw (all-string + _folder) micro-batch into the staged,
    * key-unique change set ready to MERGE. Pure DataFrame → DataFrame, unit
    * testable without streaming.
    */
  def stage(raw: DataFrame, typedSchema: StructType, spec: StreamSpec): DataFrame = {
    val typed = CsvCast(typedSchema, raw.drop("_folder", "_chunk_idx", "_chunk_last"))
    val selected = FieldSelection(typed, spec.fieldSelectionRule, spec.essentialFields)
    val keyed = MergeKey(selected, spec.keyColumns)
    LatestVersionDedup(keyed, MergeKey.ColumnName, spec.versionColumn)
  }

  /** Reconcile target schema with the staged batch: new staged columns are
    * ADDed to the target (NULL-filled for history); columns the batch lacks
    * stay and read as NULL — `/root/reference/docs/backfill.md:14-19`.
    */
  def migrateSchema(table: SnapshotTable, staged: StructType): Unit = {
    val have = table.schema.fieldNames.map(_.toLowerCase).toSet
    val missing = staged.fields.filterNot(f => have.contains(f.name.toLowerCase))
    if (missing.nonEmpty) table.addColumns(missing.toSeq)
  }

  /** `isUnifiedSchema: true` (reference CRD beta:166-169) declares the
    * source schema fixed for the stream's lifetime: automatic migration is
    * disabled, and a widened source batch is a deployment error, not data.
    * Drift fails the batch fast with a retryable (exit-code 2) failure —
    * K8s restarts the Job, which re-reads the now-corrected model.json —
    * instead of silently widening a target other consumers depend on.
    */
  def assertUnifiedSchema(table: SnapshotTable, staged: StructType): Unit = {
    val have = table.schema.fieldNames.map(_.toLowerCase).toSet
    val drift = staged.fields.map(_.name).filterNot(n => have.contains(n.toLowerCase))
    if (drift.nonEmpty) throw new SchemaDriftException(
      s"schema drift with isUnifiedSchema=true: source added column(s) ${drift.mkString(", ")} " +
        "not present in the target; fix the stream definition or disable isUnifiedSchema")
  }

  private def reconcileSchema(table: SnapshotTable, staged: StructType, spec: StreamSpec): Unit =
    if (spec.isUnifiedSchema) assertUnifiedSchema(table, staged)
    else migrateSchema(table, staged)

  /** One merge round: schema-migrate, MERGE, commit watermark as a table
    * property (`IcebergTablePropertyManager` parity — SURVEY.md §2.A15).
    */
  /** Table-layout properties from the spec (write-time sort order + parquet
    * bloom filters — reference CREATE TABLE surface, SURVEY.md §2.B).
    */
  private def layoutProps(spec: StreamSpec): Map[String, String] = {
    val sort =
      if (spec.sortedBy.nonEmpty) Map(SnapshotTable.PropSortOrder -> spec.sortedBy.mkString(","))
      else Map.empty[String, String]
    val bloom =
      if (spec.bloomFilterColumns.nonEmpty)
        Map(SnapshotTable.PropBloomColumns -> spec.bloomFilterColumns.mkString(","))
      else Map.empty[String, String]
    val maxRows = spec.maxRowsPerFile
      .map(n => Map(SnapshotTable.PropMaxRowsPerFile -> n.toString))
      .getOrElse(Map.empty[String, String])
    val format = spec.format
      .map(f => Map(SnapshotTable.PropFormat -> f))
      .getOrElse(Map.empty[String, String])
    // Arbitrary passthrough props (reference sink.targetTableProperties)
    // go first so engine-managed layout keys win on collision.
    spec.targetTableProperties ++ sort ++ bloom ++ maxRows ++ format
  }

  def mergeBatch(table: SnapshotTable, staged: DataFrame, spec: StreamSpec, watermark: String,
      knownAffected: Option[Set[Int]] = None): Unit = {
    if (!table.exists) {
      table.createOrReplace(
        staged.where(!coalesce(col(spec.isDeleteColumn).cast("boolean"), lit(false))),
        MergeKey.ColumnName, spec.numBuckets,
        layoutProps(spec) + (SnapshotTable.PropWatermark -> watermark))
    } else {
      reconcileSchema(table, staged.schema, spec)
      // merge-on-read (spec.mergeMode, Iceberg v2 write.merge.mode parity):
      // commits append winners + equality-delete keys instead of rewriting
      // the affected buckets; the maintenance compaction tick absorbs the
      // accumulated deletes. knownAffected is a copy-on-write-only fast
      // path (mergeOnRead derives its own affected set from the batch).
      if (spec.useMergeOnRead)
        table.mergeOnRead(staged, MergeKey.ColumnName, spec.versionColumn, spec.isDeleteColumn,
          Map(SnapshotTable.PropWatermark -> watermark))
      else
        table.merge(staged, MergeKey.ColumnName, spec.versionColumn, spec.isDeleteColumn,
          Map(SnapshotTable.PropWatermark -> watermark), knownAffected)
    }
  }

  /** Content dedup (spec.dedupTextColumn): the staged batch's NON-delete
    * rows are near-dup deduped against the maintained band index
    * ([[graft.streaming.StreamOps.dedupBatchMaintainingIndex]] — one
    * map-only scan of the stored index, batch bands broadcast, survivors'
    * bands appended under the batchId-named subdir, foreachBatch-retry-
    * safe). Delete tombstones ALWAYS pass: a CDC delete must reach the
    * merge whatever its payload text near-dups — suppressing it would
    * resurrect the target row.
    *
    * Same-key exemption: batch keys already LIVE in the target are
    * UPDATES of rows the dedup admitted earlier — their own indexed bands
    * would otherwise suppress every version bump whose text is unchanged
    * (or still near-dups the prior version), silently dropping the
    * update. Live keys are collected with a bucket-pruned read (buckets
    * derived from the batch's keys — the merge's own cost class: one
    * O(affected buckets) key scan, never the table), the exempt set is
    * bounded by the micro-batch's key count, and the whole scan is a
    * THUNK the dedup evaluates only when the batch actually collided —
    * collision-free steady-state batches pay nothing for it.
    *
    * Residual, BY CONTENT-DEDUP SEMANTICS (default layout): a key deleted
    * earlier whose content is later RE-INSERTED near-duplicating anything
    * already indexed (including its own pre-delete text) stays suppressed
    * — the band index keeps content history across tombstones (bands
    * carry no ids, so a tombstone cannot retract them). dedupTextColumn
    * is the crawl-dedup contract: previously seen content is a duplicate
    * even if its original row was since deleted. Sources that re-insert
    * deleted keys with recycled content set `spec.dedupRetractOnDelete`:
    * the index then stores id-carrying band rows, each batch's delete
    * tombstones RETRACT their keys' rows
    * ([[graft.streaming.StreamOps.retractFromBandIndex]] — recorded under
    * the batchId name, so a foreachBatch replay overwrites itself), and a
    * deleted-then-reinserted key's own history no longer suppresses it.
    */
  private[graft] def contentDedupBatch(
      staged: DataFrame, spec: StreamSpec, batchId: Long, table: SnapshotTable): DataFrame =
    spec.dedupTextColumn match {
      case None => staged
      case Some(tc) =>
        val isDel = coalesce(col(spec.isDeleteColumn).cast("boolean"), lit(false))
        val nonDel = staged.where(!isDel)
        // retraction BEFORE the dedup probe: a delete and a same-key
        // re-insert cannot share one batch (latest-version dedup keeps one
        // row per key), so the order only matters across batches — and
        // there the tombstone must already be visible to the next probe
        if (spec.dedupRetractOnDelete) {
          val delKeys = staged.where(isDel).select(col(MergeKey.ColumnName))
          if (!delKeys.isEmpty)
            graft.streaming.StreamOps.retractFromBandIndex(
              staged.sparkSession, spec.dedupIndexLocation.get, delKeys,
              idCol = MergeKey.ColumnName, name = f"batch-$batchId%020d", seq = batchId)
        }
        val exempt: Option[() => DataFrame] =
          if (!table.exists) None
          else Some(() => {
            val snap = table.currentSnapshot
            val n = snap.numBuckets
            val fn = SnapshotTable.bucketFnOf(snap.properties)
            val buckets = nonDel
              .select(table.bucketExpr(MergeKey.ColumnName, n, fn).as("_gbk"))
              .distinct().collect().map(_.getInt(0)).toSet
            if (buckets.isEmpty) nonDel.select(col(MergeKey.ColumnName)).limit(0)
            else table.read(Some(buckets)).select(col(MergeKey.ColumnName))
              .join(broadcast(nonDel.select(col(MergeKey.ColumnName)).distinct()),
                Seq(MergeKey.ColumnName), "leftsemi")
          })
        graft.streaming.StreamOps
          .dedupBatchMaintainingIndex(nonDel, spec.dedupIndexLocation.get,
            batchId, idCol = MergeKey.ColumnName, textCol = tc, exemptIds = exempt)
          .unionByName(staged.where(isDel))
    }

  /** The content-dedup index's default MinHash family — the library
    * defaults (3-shingle, 128 hashes, 16 bands, seed 42), pinned in the
    * index's `_params.json` on first use so every later batch signs with
    * the identical family (the [[graft.ext.ModelStore]] contract).
    */
  private val ContentDedupParams = graft.ext.Dedup.MinHashParams(
    numHashes = 128, numBands = 16, shingleSize = 3, seed = 42L, oph = false)

  private def ensureContentDedupIndex(spark: SparkSession, spec: StreamSpec): Unit =
    spec.dedupIndexLocation.foreach { loc =>
      if (!graft.streaming.StreamOps.bandIndexExists(spark, loc))
        graft.streaming.StreamOps.initBandIndex(spark, loc, ContentDedupParams,
          storeIds = spec.dedupRetractOnDelete)
      else require(
        graft.streaming.StreamOps.bandIndexStoresIds(spark, loc) == spec.dedupRetractOnDelete,
        s"band index at $loc was initialized with storeIds=" +
          s"${graft.streaming.StreamOps.bandIndexStoresIds(spark, loc)} but the spec sets " +
          s"dedupRetractOnDelete=${spec.dedupRetractOnDelete} — the layout is pinned at init; " +
          "re-seed the index at a fresh location to change it")
    }

  /** What the staging job of one micro-batch observed on its way through:
    * the raw row count, the watermark, the key-unique staged row count and
    * the target buckets the staged keys land in (None when there is no
    * target yet, or the batch is empty).
    */
  private final case class BatchFacts(
      rows: Long, watermark: String, stagedRows: Long, affected: Option[Set[Int]])

  /** Stage a micro-batch ONCE: one job parses, casts, keys and
    * latest-version-dedups the raw rows into a locally checkpointed frame,
    * and the batch facts ride that same job as two observations — the raw
    * row count and newest chunk below the dedup shuffle, the staged count
    * and affected buckets above it. Content dedup and the merge then read
    * the materialised staged rows instead of re-deriving them from the CSV
    * scan. The caller releases the checkpoint
    * ([[Checkpoints.release]]) when the batch ends.
    *
    * Watermark = the newest PROCESSED CHUNK's resume point, not just the
    * newest folder name: a folder split across micro-batches by admission
    * control commits "folder#chunksDone" until its last chunk lands, so a
    * restart from the table watermark (checkpoint lost or absent) resumes
    * the partial folder's remaining chunks instead of silently skipping
    * them — and external readers of the mirrored property see honest
    * partial progress.
    *
    * The affected buckets hash the TYPED merge key with the table's own
    * bucket function — exactly what the merge's write computes — so the
    * set is exact for every key type (hashing anything else computes wrong
    * buckets, and merge's targetBuckets filter silently drops the staged
    * rows outside them).
    *
    * An observation below a shuffle comes back EMPTY when the batch has no
    * rows (a folder whose chunk holds no data rows): a missing count reads
    * as 0, and the staged-side observation is only read for a non-empty
    * batch.
    */
  private def stageBatch(raw: DataFrame, typedSchema: StructType, spec: StreamSpec,
      table: SnapshotTable): (DataFrame, BatchFacts) = {
    val rawObs = Observation()
    val stagedObs = Observation()
    val observedRaw = raw.observe(rawObs, count(lit(1)).as("rows"),
      max(struct(col("_folder"), col("_chunk_idx"), col("_chunk_last"))).as("newest"))
    val bucketing = if (table.exists) {
      val snap = table.currentSnapshot
      graft.sql.GraftExtensions.ensureRegistered(raw.sparkSession)
      Some(SnapshotTable.bucketColumn(col(MergeKey.ColumnName), snap.numBuckets,
        SnapshotTable.bucketFnOf(snap.properties)))
    } else None
    val stagedAggs = count(lit(1)).as("rows") +: bucketing.map(collect_set(_).as("buckets")).toSeq
    val staged = stage(observedRaw, typedSchema, spec)
      .observe(stagedObs, stagedAggs.head, stagedAggs.tail: _*)
      .localCheckpoint()
    val rows = rawObs.get.get("rows").fold(0L)(_.asInstanceOf[Long])
    if (rows == 0) (staged, BatchFacts(0L, "", 0L, None))
    else {
      val newest = rawObs.get("newest").asInstanceOf[Row]
      val wm =
        if (newest.getBoolean(2)) newest.getString(0)
        else s"${newest.getString(0)}#${newest.getInt(1) + 1}"
      val stagedFacts = stagedObs.get
      (staged, BatchFacts(rows, wm, stagedFacts("rows").asInstanceOf[Long],
        bucketing.map(_ => stagedFacts("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet)))
    }
  }

  /** Whether affected buckets may be hashed from the RAW string key columns
    * (a caller's pass over the raw batch, before staging), while the write
    * path re-buckets on the TYPED merge key — valid only when the raw CSV
    * text and the typed value's string form are provably identical. That
    * holds for StringType keys (guid/string CDM types: the cast is the
    * identity). It does NOT hold in general for int64 ("0042" → "42"),
    * decimal ("1.5" → "1.500000"), or dateTime keys, where a divergent
    * bucket set would silently filter staged rows out of the write; such
    * callers must let merge collect the buckets. The stream itself hashes
    * the typed key during staging ([[stageBatch]]) and needs no such test.
    */
  private[graft] def rawKeyBucketsStable(typedSchema: StructType, keyColumns: Seq[String]): Boolean =
    keyColumns.forall { k =>
      typedSchema.fields.find(_.name.equalsIgnoreCase(k))
        .exists(_.dataType == org.apache.spark.sql.types.StringType)
    }

  /** Scheduled target maintenance — every `batchThreshold` batches run
    * compaction + snapshot expiration + orphan removal, every
    * `analyzeBatchThreshold` run ANALYZE (SURVEY.md §2.A17-A20).
    */
  def maintenanceTick(table: SnapshotTable, spec: StreamSpec, batchNumber: Long): Unit = {
    val m = spec.maintenance
    // threshold <= 0 means DISABLED (the natural reading of 0 in config) —
    // without the guard the first batch would divide by zero and fail the
    // stream after its merge already committed
    if (m.batchThreshold > 0 && batchNumber > 0 && batchNumber % m.batchThreshold == 0) {
      table.compact(m.fileSizeThresholdBytes)
      val cutoff = System.currentTimeMillis() - m.snapshotRetentionMs
      val snaps = table.expireSnapshots(cutoff)
      val orphans = table.removeOrphanFiles(cutoff)
      JsonLog.info("maintenance_completed", "batch" -> batchNumber,
        "expired_snapshots" -> snaps.size, "removed_orphans" -> orphans.size)
    }
    if (m.analyzeBatchThreshold > 0 && batchNumber > 0 && batchNumber % m.analyzeBatchThreshold == 0)
      table.analyze(m.analyzedColumns)
  }

  /** One-shot standalone maintenance run (the reference's dedicated
    * `TargetMaintenanceProcessor` job shape — maintenance as its OWN
    * process on its own schedule, not only piggybacked on stream batch
    * counts): compaction (which also absorbs adopted files and
    * merge-on-read equality deletes), snapshot expiration, orphan-file
    * removal, and ANALYZE when `maintenance.analyzedColumns` is set.
    * Thresholds are ignored — an operator launching a maintenance run
    * wants it to run, not to be modulo-gated.
    */
  def runMaintenance(spark: org.apache.spark.sql.SparkSession, spec: StreamSpec): Unit = {
    val table = SnapshotTable(spark, spec.targetLocation)
    require(table.exists, s"maintenance: no table at ${spec.targetLocation}")
    val m = spec.maintenance
    table.compact(m.fileSizeThresholdBytes)
    val cutoff = System.currentTimeMillis() - m.snapshotRetentionMs
    val snaps = table.expireSnapshots(cutoff)
    val orphans = table.removeOrphanFiles(cutoff)
    if (m.analyzedColumns.nonEmpty) table.analyze(m.analyzedColumns)
    // THE export path for merge-on-read streams (whose spec refuses
    // per-trigger exports): compaction above has just absorbed every
    // equality delete, so the symlink manifest is exportable again —
    // external readers get a post-maintenance consistent view.
    spec.exportDir.foreach(table.exportSymlinkManifest)
    spec.icebergExportDir.foreach(d => table.exportIceberg(d))
    spec.deltaExportDir.foreach(d => table.exportDelta(d, spec.deleteBroadcastMaxRows))
    JsonLog.info("maintenance_completed", "mode" -> "standalone",
      "expired_snapshots" -> snaps.size, "removed_orphans" -> orphans.size,
      "exported" -> (spec.exportDir.nonEmpty || spec.icebergExportDir.nonEmpty ||
        spec.deltaExportDir.nonEmpty))
  }

  /** Poll interval with jitter (reference CRD beta:216-221): the stream's
    * interval is drawn ONCE at start from `base × (1 ± U(0, variance))`.
    * Spark's ProcessingTimeTrigger is fixed-rate, so per-trigger jitter is
    * not expressible — but the jitter's purpose (de-synchronizing a fleet of
    * hundreds of streams polling one storage account) only needs each
    * stream's phase/rate to differ, which a per-stream draw provides. Seed 0
    * (the reference default) derives a per-stream seed from the identity so
    * distinct streams land on distinct intervals out of the box.
    */
  private[graft] def jitteredIntervalMs(spec: StreamSpec): Long = {
    val base = spec.changeCaptureIntervalSeconds * 1000L
    // base 0 = back-to-back micro-batches (bounded gate runs) — no jitter.
    if (spec.changeCaptureJitterVariance <= 0 || base == 0) base
    else {
      val seed =
        if (spec.changeCaptureJitterSeed != 0) spec.changeCaptureJitterSeed
        else (spec.entityName + "#" + spec.targetLocation).hashCode.toLong
      val u = new scala.util.Random(seed).nextDouble() * 2.0 - 1.0
      math.max(1L, (base * (1.0 + spec.changeCaptureJitterVariance * u)).toLong)
    }
  }

  /** Streaming change-capture run (§3.1). The returned query is started;
    * callers stop it via lifecycle signals (tests: processAllAvailable).
    */
  def startStream(spark: SparkSession, spec: StreamSpec): StreamingQuery = {
    // A symlink-manifest export exposes raw data files; merge-on-read
    // commits leave equality deletes a PLAIN reader cannot apply, so a
    // per-trigger re-export would either fail or resurrect superseded
    // rows. (A standalone maintenanceRun MAY combine them — it exports
    // after compaction absorbs the deletes — which is why this check
    // lives here and not in the StreamSpec constructor.) The ICEBERG
    // export has no such restriction: it publishes outstanding equality
    // deletes as v2 content=1 manifests that Iceberg readers merge
    // natively, so MoR streams export per commit like CoW ones.
    require(!(spec.useMergeOnRead && spec.exportDir.nonEmpty),
      "exportDir cannot be combined with mergeMode=merge-on-read on a stream: a symlink " +
        "manifest cannot represent outstanding equality deletes; use copy-on-write, " +
        "icebergExportDir (v2 delete manifests), or a maintenanceRun job (exports after " +
        "compaction)")
    // deltaExportDir + merge-on-read is supported: outstanding equality
    // deletes export as protocol DELETION VECTORS (reader v3 / writer v7
    // — exportDelta position-izes them per commit; unchanged DVs reuse
    // their descriptors, so per-commit cost tracks the change set)
    // a stream MERGEs into the target (or creates it fresh) — never replaces
    validateIcebergExportFormat(spark, spec, willReplace = false)
    validateDeltaExportFormat(spark, spec, willReplace = false)
    // Content-dedup index ready BEFORE the first batch: a cold start (no
    // prior backfill) begins from an empty index and builds it batch by
    // batch; a backfill-seeded index is simply found in place.
    ensureContentDedupIndex(spark, spec)
    val layout = SynapseCdmLayout(spec.sourcePath, spec.entityName, "Changelog/changelog.info",
      spec.listingRetry)
    val conf = spark.sparkContext.hadoopConfiguration
    val typedSchema = layout.entitySchema(conf, layout.changelogValue(conf))
    val table = SnapshotTable(spark, spec.targetLocation)
    val startWm = if (table.exists) table.properties.getOrElse(SnapshotTable.PropWatermark, "") else ""

    Metrics.install(spark, spec.statsdAddress,
      spec.metricTags + ("entity" -> spec.entityName))
    JsonLog.install(spec.metricTags + ("entity" -> spec.entityName),
      DataDogLogShipper.sinkFor(spec.logShipAddress))
    JsonLog.info("stream_started", "source" -> spec.sourcePath,
      "target" -> spec.targetLocation, "interval_ms" -> jitteredIntervalMs(spec),
      "starting_watermark" -> (if (startWm.isEmpty) null else startWm))

    val reader = spark.readStream
      .format("synapse-cdm")
      .option("path", spec.sourcePath)
      .option("entity", spec.entityName)
      .option("startingWatermark", startWm)
      .option("httpMaxRetries", spec.httpMaxRetries.toString)
      .option("httpRetryDelayMs", spec.httpRetryDelayMs.toString)
      .option("maxResultsPerPage", spec.maxResultsPerPage.toString)
    spec.maxFoldersPerTrigger.foreach(n => reader.option("maxFoldersPerTrigger", n.toString))
    spec.maxChunksPerTrigger.foreach(n => reader.option("maxChunksPerTrigger", n.toString))
    spec.shaper.foreach { s =>
      reader.option("shaper", s)
      reader.option("memoryHeadroomFraction", spec.memoryHeadroomFraction.toString)
    }

    val batchCounter = new AtomicLong(0)
    val writer = reader.load()
      .writeStream
      .trigger(Trigger.ProcessingTime(jitteredIntervalMs(spec)))
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        // One job stages the batch and observes its facts (stageBatch);
        // content dedup and the merge read the staged checkpoint, whose
        // blocks are released when the batch ends, committed or not.
        val t0 = System.nanoTime()
        val (staged, facts) = stageBatch(raw, typedSchema, spec, table)
        try {
          val stageMs = (System.nanoTime() - t0) / 1000000L
          if (facts.rows > 0) {
            // Content dedup runs AFTER latest-version dedup (keys unique →
            // arcane_merge_key is a valid doc id) and BEFORE the merge; the
            // affected buckets of the pre-dedup keys are a superset of the
            // survivors', which merge tolerates (extra buckets carry
            // forward unchanged, rows are never dropped).
            val kept = contentDedupBatch(staged, spec, batchId, table)
            // content dedup returns a locally-checkpointed frame, so this
            // count is a block scan, not a recompute
            val keptRows = if (spec.dedupTextColumn.isDefined) Some(kept.count()) else None
            val tMerge = System.nanoTime()
            Retry(spec.retry.forContext(backfill = false)) {
              mergeBatch(table, kept, spec, facts.watermark, facts.affected)
            }
            // Reference parity: the target is ALWAYS externally readable
            // (its sinks are open-format tables any engine reads). Re-export
            // the symlink manifest after every commit so the external view
            // tracks the live table — metadata-only, O(new files), no data
            // scan. export_ms is logged per batch: at stream cadence an
            // export cost creeping toward the trigger interval is the
            // operator's signal, so it must be visible, not inferred.
            val mergeMs = (System.nanoTime() - tMerge) / 1000000L
            val tExp = System.nanoTime()
            spec.exportDir.foreach(table.exportSymlinkManifest)
            spec.icebergExportDir.foreach(d => table.exportIceberg(d))
            spec.deltaExportDir.foreach(d => table.exportDelta(d, spec.deleteBroadcastMaxRows))
            val exportMs = (System.nanoTime() - tExp) / 1000000L
            JsonLog.info("batch_committed", Seq[(String, Any)]("batch_id" -> batchId,
              "rows" -> facts.rows, "watermark" -> facts.watermark,
              "affected_buckets" -> facts.affected.map(_.size.toString).getOrElse("all"),
              "stage_ms" -> stageMs, "merge_ms" -> mergeMs, "export_ms" -> exportMs,
              // key-unique rows after latest-version dedup
              "rows_staged" -> facts.stagedRows) ++
              // rows left after content dedup: at stream cadence the
              // suppression (rows_staged - rows_after_content_dedup) is the
              // operator's dedup-health signal — a collapse to zero means a
              // mis-seeded index is suppressing everything
              keptRows.map("rows_after_content_dedup" -> _): _*)
            val batchNumber = batchCounter.incrementAndGet()
            maintenanceTick(table, spec, batchNumber)
            // Band-index maintenance on its own cadence: fold per-batch
            // subdirs into one compact blob (keep-recent protection makes a
            // replayed uncommitted batch unable to self-suppress).
            if (spec.dedupIndexLocation.isDefined && spec.dedupIndexCompactEvery > 0 &&
                batchNumber % spec.dedupIndexCompactEvery == 0)
              graft.streaming.StreamOps.compactBandIndex(
                raw.sparkSession, spec.dedupIndexLocation.get)
          }
        } finally Checkpoints.release(staged)
      }
    spec.checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** Backfill run (§3.2): read ALL folders from `backfillStartDate` as one
    * batch DataFrame, dedup to latest-per-key, then either atomically
    * replace the target (`Overwrite`) or MERGE into it (`Merge`)
    * (`/root/reference/docs/backfill.md:27-47`). Sharding is unnecessary:
    * Spark's partition parallelism plays that role (SURVEY.md §2.A22).
    */
  /** icebergExportDir needs footer row counts — parquet/orc only. Checked
    * at the run entry points so an avro-target spec fails BEFORE any data
    * commits, not post-commit inside the export call of every batch. The
    * EFFECTIVE format is resolved exactly as the write path will resolve
    * it — spec.format, then targetTableProperties, then an EXISTING
    * table's persisted properties — so an avro table configured through
    * `targetTableProperties("write.format")` (or a pre-existing avro
    * target the spec doesn't mention) is caught here too, not inside the
    * first post-commit export.
    */
  /** `willReplace` = this run will CREATE OR REPLACE the target (an
    * Overwrite backfill, or any run against a not-yet-existing table):
    * `createOrReplace` merges `prevProps ++ layoutProps`, so the SPEC's
    * format wins there (falling back to the replaced table's persisted
    * format when the spec sets none). A MERGE into an existing table
    * keeps the table's persisted properties and ignores the spec's format
    * entirely — resolving in the wrong order would both falsely accept an
    * avro Overwrite of a parquet target (post-commit export failure, the
    * exact mode this check prevents) and falsely reject a parquet
    * Overwrite of a persisted-avro one.
    */
  /** The ONE effective-format resolution both export validations share —
    * duplicated resolution orders would let the two exporters silently
    * validate against different formats after a future change to one.
    * persisted = the EXISTING table's effective format (its absent
    * property means parquet — the write-path default), None when no table
    * exists yet; a replace run prefers the spec's format, a merge run the
    * table's.
    */
  private def resolveEffectiveFormat(spark: SparkSession, spec: StreamSpec,
      willReplace: Boolean): String = {
    val persisted = {
      val t = SnapshotTable(spark, spec.targetLocation)
      if (t.exists) Some(t.properties.getOrElse(SnapshotTable.PropFormat, "parquet")) else None
    }
    val fromSpec = (spec.targetTableProperties ++
      spec.format.map(SnapshotTable.PropFormat -> _).toMap).get(SnapshotTable.PropFormat)
    (if (willReplace) fromSpec.orElse(persisted) else persisted.orElse(fromSpec))
      .map(_.toLowerCase).getOrElse("parquet")
  }

  private def validateIcebergExportFormat(spark: SparkSession, spec: StreamSpec,
      willReplace: Boolean): Unit =
    spec.icebergExportDir.foreach { _ =>
      val effective = resolveEffectiveFormat(spark, spec, willReplace)
      require(effective == "parquet" || effective == "orc",
        s"icebergExportDir requires a parquet or orc target table (format=$effective); " +
          "Iceberg export collects record counts from data-file footers, which avro lacks")
    }

  /** deltaExportDir is stricter still: Delta data files are parquet by
    * protocol. Same effective-format resolution, same
    * fail-before-first-commit placement.
    */
  private def validateDeltaExportFormat(spark: SparkSession, spec: StreamSpec,
      willReplace: Boolean): Unit =
    spec.deltaExportDir.foreach { _ =>
      val effective = resolveEffectiveFormat(spark, spec, willReplace)
      require(effective == "parquet",
        s"deltaExportDir requires a parquet target table (format=$effective); " +
          "Delta data files are parquet by protocol")
    }

  def runBackfill(spark: SparkSession, spec: StreamSpec): Unit = {
    // mirrors the merge/replace decision below: Merge-into-existing keeps
    // the table's format; everything else runs createOrReplace
    val backfillReplaces =
      !(spec.backfillBehavior.equalsIgnoreCase("merge") &&
        SnapshotTable(spark, spec.targetLocation).exists)
    validateIcebergExportFormat(spark, spec, willReplace = backfillReplaces)
    validateDeltaExportFormat(spark, spec, willReplace = backfillReplaces)
    // Tags installed FIRST so any emission during the backfill itself —
    // retry logging, a failure surfacing through Main's stream_failed path —
    // carries this stream's tags, not empty/stale ones from a previous
    // stream in the same JVM (same placement as startStream).
    JsonLog.install(spec.metricTags + ("entity" -> spec.entityName),
      DataDogLogShipper.sinkFor(spec.logShipAddress))
    val layout = SynapseCdmLayout(spec.sourcePath, spec.entityName, "Changelog/changelog.info",
      spec.listingRetry)
    val conf = spark.sparkContext.hadoopConfiguration
    // Backfill reads the UNION of folder schemas in range (newest model
    // first, dropped-from-newest columns appended) — the reference's
    // staging-vs-target diff ADDs a historical column the newest model
    // dropped (`docs/backfill.md:14-19`), so a years-deep backfill keeps
    // that column's history; A12 migration then ADD-COLUMNs it on Merge.
    val typedSchema = layout.unionEntitySchema(conf, spec.backfillStartDate)
    val newest = layout.changelogValue(conf).getOrElse(
      sys.error(s"no changelog at ${spec.sourcePath} — nothing is closed for backfill"))

    val reader = spark.read
      .format("synapse-cdm")
      .option("path", spec.sourcePath)
      .option("entity", spec.entityName)
      .option("includeDroppedColumns", "true")
      .option("httpMaxRetries", spec.httpMaxRetries.toString)
      .option("httpRetryDelayMs", spec.httpRetryDelayMs.toString)
      .option("maxResultsPerPage", spec.maxResultsPerPage.toString)
    spec.backfillStartDate.foreach(d => reader.option("backfillStartDate", d))
    val raw = reader.load()

    val staged = stage(raw, typedSchema, spec)
    val table = SnapshotTable(spark, spec.targetLocation)
    // A27 retry covers backfill completion too (mode `backfillOnly` exists
    // precisely for this: one long job with no streaming checkpoint to
    // resume from, so an in-place retry is the only recovery short of a
    // full re-run).
    Retry(spec.retry.forContext(backfill = true)) {
      spec.backfillBehavior.toLowerCase match {
        case "merge" if table.exists =>
          reconcileSchema(table, staged.schema, spec)
          if (spec.useMergeOnRead)
            table.mergeOnRead(staged, MergeKey.ColumnName, spec.versionColumn, spec.isDeleteColumn,
              Map(SnapshotTable.PropWatermark -> newest))
          else
            table.merge(staged, MergeKey.ColumnName, spec.versionColumn, spec.isDeleteColumn,
              Map(SnapshotTable.PropWatermark -> newest))
        case _ =>
          val live = staged.where(!coalesce(col(spec.isDeleteColumn).cast("boolean"), lit(false)))
          table.createOrReplace(live, MergeKey.ColumnName, spec.numBuckets,
            layoutProps(spec) + (SnapshotTable.PropWatermark -> newest))
      }
    }
    // Backfill × content dedup: backfilled rows are authoritative history —
    // they are NEVER suppressed, they become the index's corpus. A replace
    // run re-initializes the index from its live rows (the old corpus is
    // gone with the old table); a merge run folds its rows in as one named
    // subdir, leaving the maintained per-batch state untouched.
    spec.dedupTextColumn.foreach { tc =>
      val loc = spec.dedupIndexLocation.get
      val live = staged.where(!coalesce(col(spec.isDeleteColumn).cast("boolean"), lit(false)))
      if (backfillReplaces) {
        val p = new org.apache.hadoop.fs.Path(loc)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        graft.streaming.StreamOps.initBandIndex(spark, loc, ContentDedupParams, Some(live),
          idCol = MergeKey.ColumnName, textCol = tc, storeIds = spec.dedupRetractOnDelete)
      } else {
        ensureContentDedupIndex(spark, spec)
        // Watermark-derived subdir name: a RETRIED backfill overwrites its
        // own bands (idempotent), while backfills to different watermarks
        // accumulate as distinct subdirs instead of clobbering each other.
        graft.streaming.StreamOps.appendCorpusToBandIndex(spark, loc, live,
          idCol = MergeKey.ColumnName, textCol = tc,
          name = s"seed-backfill-${newest.replaceAll("[^A-Za-z0-9._-]", "_")}")
      }
    }
    spec.exportDir.foreach(table.exportSymlinkManifest)
    spec.icebergExportDir.foreach(d => table.exportIceberg(d))
    spec.deltaExportDir.foreach(d => table.exportDelta(d, spec.deleteBroadcastMaxRows))
    JsonLog.info("backfill_completed", "mode" -> spec.backfillBehavior, "watermark" -> newest)
  }
}
