package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** A minimal snapshot-isolated Parquet table with Iceberg-like semantics,
  * executed entirely by Spark. The runtime ships no lakehouse format jar, so
  * this supplies the subset the reference relies on (via Trino/Iceberg —
  * `/root/reference/src/main/scala/main.scala:26,111`):
  * atomic commits, MERGE, CREATE OR REPLACE, ADD COLUMNS, table properties
  * (watermark), compaction, snapshot expiration, orphan-file removal, stats.
  *
  * Layout:
  * {{{
  * tableDir/
  *   _current                # name of live snapshot file; atomically swapped
  *   _snapshots/v<N>.json    # schema + data-file list + properties + stats
  *   data/<commit-uuid>/b=<bucket>/part-*.parquet
  * }}}
  *
  * The table is hash-bucketed on the merge key — `bucket(arcane_merge_key, N)`
  * exactly as the reference documents for its Iceberg targets
  * (`/root/reference/docs/crd.md:211`). A merge only rewrites the buckets
  * that contain changed keys and carries every other bucket's files forward
  * as metadata, so merge cost scales with the change set, not the table:
  * at 100 TB with (say) 4096 buckets, a micro-batch touching 10k keys
  * rewrites only the affected buckets.
  *
  * Readers always see the snapshot named by `_current`; the pointer swap is a
  * filesystem rename (atomic on HDFS/local; on S3 a real deployment would
  * put this pointer in a catalog service — single-writer is assumed here,
  * matching the reference's one-stream-per-target model).
  */
/** One data file of a snapshot. `stats` holds optional per-column
  * (min, max) collected from parquet footers at write time
  * ([[FileStats]]) — the manifest-level skipping index
  * ([[SnapshotTable.readRange]]); files without stats are always read.
  * `rows`/`bytes` are collected ONCE at write time (the writer already
  * holds the footer / listing status) so later metadata consumers —
  * [[SnapshotTable.exportIceberg]], compaction sizing — never re-open
  * files the commit merely carries forward; −1 means unknown (manifests
  * written before these fields existed), and readers fall back to a
  * footer/status read for exactly those files.
  */
final case class DataFile(
    path: String, bucket: Int, stats: Map[String, (Double, Double)] = Map.empty,
    seq: Long = 0L, rows: Long = -1L, bytes: Long = -1L)

/** An equality-delete file (Iceberg v2 merge-on-read parity): a parquet
  * file holding MERGE KEYS whose rows are superseded. It applies to every
  * data file of its bucket with `DataFile.seq < seq` — data written at or
  * after the delete's sequence is untouched (it already reflects the
  * change). Produced by [[SnapshotTable.mergeOnRead]]; absorbed (rewritten
  * away) by [[SnapshotTable.compact]] / copy-on-write merges of the same
  * bucket.
  */
final case class DeleteFile(path: String, bucket: Int, seq: Long,
    rows: Long = -1L, bytes: Long = -1L)

final case class Snapshot(
    version: Long,
    schema: StructType,
    numBuckets: Int,
    files: Seq[DataFile],
    properties: Map[String, String],
    timestampMs: Long,
    deletes: Seq[DeleteFile] = Seq.empty
)

class SnapshotTable(val spark: SparkSession, val location: String,
    val branch: Option[String] = None) {
  import SnapshotTable._

  // Dev-only phase timer (off unless -Dgraft.phaseLog=true): wraps the
  // commit path's expensive steps so a perf investigation can attribute a
  // commit's wall time without a listener harness (used to drive the r21
  // write-path measurements).
  private def ph[T](name: String)(f: => T): T =
    if (!java.lang.Boolean.getBoolean("graft.phaseLog")) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"      [ph] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
    }

  private val dir = new Path(location)
  private def fs: FileSystem = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val branchesDir = new Path(dir, "_branches")
  // A branch view is the SAME table with its OWN head pointer: commits
  // land on `_branches/<name>` (snapshot files prefixed `b-<name>-`) and
  // `_current` — what every reader sees — never moves until fastForward.
  // This is the write-audit-publish primitive (Iceberg branch + WAP).
  private val currentPtr = branch match {
    case Some(b) => new Path(branchesDir, b)
    case None    => new Path(dir, "_current")
  }
  private val snapshotsDir = new Path(dir, "_snapshots")
  private val dataDir = new Path(dir, "data")

  /** Snapshot file name for COMMITS from this view: branch commits get a
    * branch-prefixed name so they never collide with main-line `v*.json`
    * numbering and stay invisible to [[snapshotVersions]]/[[readAt]].
    */
  private def commitFileName(v: Long): String = branch match {
    case Some(b) => f"b-$b-v$v%08d.json"
    case None    => snapshotFileName(v)
  }

  private def requireMain(op: String): Unit =
    require(branch.isEmpty, s"$op must run on the main table, not branch view '${branch.get}'")

  def exists: Boolean = fs.exists(currentPtr)

  def currentSnapshot: Snapshot = {
    val name = readText(fs, currentPtr).trim
    readSnapshot(new Path(snapshotsDir, name))
  }

  private def readSnapshot(p: Path): Snapshot = fromJson(readText(fs, p))

  /** All snapshot files still on disk, oldest first. */
  def snapshotVersions: Seq[Long] =
    if (!fs.exists(snapshotsDir)) Seq.empty
    else
      fs.listStatus(snapshotsDir)
        .map(_.getPath.getName)
        .collect { case SnapshotFileName(v) => v.toLong }
        .sorted
        .toSeq

  def schema: StructType = currentSnapshot.schema
  def properties: Map[String, String] = currentSnapshot.properties

  /** Bucket assignment under the table's bucket-function version `fn`
    * ([[SnapshotTable.PropBucketFn]]):
    *
    *  - [[SnapshotTable.BucketFnIceberg]] — the Iceberg spec's `bucket[N]`
    *    transform ([[graft.sql.IcebergBucket]]: canonical murmur3_x86_32,
    *    seed 0, spec byte encodings). The DEFAULT for newly created
    *    tables: because rows physically live in spec-exact buckets, the
    *    Iceberg export publishes `bucket(N, key)` as the table's partition
    *    spec truthfully and external readers prune point lookups to one
    *    bucket (the reference's documented layout,
    *    `/root/reference/docs/crd.md:211`).
    *  - [[SnapshotTable.BucketFnXxhash]] — pmod(xxhash64(key), n), the
    *    pre-migration layout. Snapshots whose manifest predates the
    *    property parse to this, so their bucket-pruned reads keep using
    *    the hash their files were actually written under; exports keep an
    *    empty partition spec for them (publishing bucket(N,...) over
    *    xxhash64-placed files would make external readers prune to the
    *    WRONG files). [[migrateBucketLayout]] (or any CREATE OR REPLACE)
    *    rewrites to the Iceberg layout.
    *
    * Null keys: the Iceberg spec's transforms return null for null input,
    * and Iceberg writers place such rows in the NULL partition. This
    * engine mirrors that with the one-past-last bucket id `n` (real
    * buckets are [0, n)): write and read sides compute the same
    * expression so bucket-pruned reads stay exact, and the export
    * publishes a NULL partition tuple for bucket-`n` files — truthful for
    * external readers on both `key = 'x'` (null never matches) and
    * `key IS NULL` (only the null partition matches). Under xxhash64,
    * null keys keep hashing to pmod(seed, n) as they always did.
    */
  def bucketExpr(keyCol: String, n: Int, fn: String): org.apache.spark.sql.Column = {
    graft.sql.GraftExtensions.ensureRegistered(spark)
    SnapshotTable.bucketColumn(col(keyCol), n, fn)
  }

  // ------------------------------------------------------------------ reads

  /** DataFrame over the current snapshot (optionally only some buckets).
    *
    * Adopted files ([[adoptFiles]], manifest bucket = −1) hold rows of ANY
    * bucket, so a bucket-pruned read keeps the exact "rows whose key
    * hashes into these buckets" contract by reading adopted files with a
    * row-level bucket filter on top of the file-level pruning — pruned
    * reads stay correct between an adoption and the merge/compaction that
    * absorbs it, at the cost of scanning the (batch-sized) adopted files.
    */
  def read(buckets: Option[Set[Int]] = None): DataFrame = {
    val snap = currentSnapshot
    buckets match {
      case None => readSnapshotDf(snap, None)
      case Some(bs) =>
        val real = readSnapshotDf(snap, Some(bs))
        val adopted = snap.files.filter(_.bucket < 0)
        if (adopted.isEmpty) real
        else real.unionByName(
          readFiles(snap, adopted).where(
            bucketExpr(keyColForBucketing(snap), snap.numBuckets,
              SnapshotTable.bucketFnOf(snap.properties))
              .isin(bs.toSeq.map(Integer.valueOf): _*)))
    }
  }

  /** Range scan with MANIFEST-level file skipping: `read().where(lo <= c
    * <= hi)` semantically, but files whose stored (min, max) for `c`
    * ([[DataFile.stats]], collected from parquet footers at write time
    * when `write.stats.columns` is set) cannot intersect [lo, hi] are
    * dropped from the listing BEFORE Spark plans the scan — no footer
    * open, no task. Files without stats for `c` are always kept (stats
    * absence means "no evidence", never "no match"), so results are
    * exact on mixed manifests. With a z-order layout on `c` the kept
    * set approaches O(selectivity); the exact predicate still applies
    * on top.
    */
  def readRange(column: String, lo: Double, hi: Double): DataFrame = {
    val snap = currentSnapshot
    val field = snap.schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"readRange column '$column' not in table schema"))
    require(field.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"readRange needs a numeric column, '$column' is ${field.dataType}")
    val kept = snap.files.filter(_.stats.get(column).forall { case (mn, mx) => mx >= lo && mn <= hi })
    val pruned = snap.copy(files = kept)
    readSnapshotDf(pruned, None).where(SnapshotTable.rangePredicate(field, lo, hi))
  }

  /** Time travel: read the table as of an earlier (unexpired) snapshot
    * version — Iceberg `VERSION AS OF` parity.
    */
  def readAt(version: Long): DataFrame = {
    val p = new Path(snapshotsDir, snapshotFileName(version))
    require(fs.exists(p), s"snapshot v$version expired or never existed (have: ${snapshotVersions.mkString(",")})")
    readSnapshotDf(readSnapshot(p), None)
  }

  /** Change data feed between two snapshot versions — Iceberg
    * changelog-view parity: one row per changed key with `_change_type` of
    * `insert` (key only in `toVersion`), `delete` (key only in
    * `fromVersion`; the FROM row's columns are returned so consumers see
    * what was removed) or `update` (key in both with any differing
    * column; the TO row is returned). Downstream consumers read increments
    * instead of re-scanning the table.
    *
    * Scale shape: a BUCKET-PRUNED full-outer join on the merge key — only
    * files of buckets whose file set differs between the two snapshots are
    * read (carried-forward buckets cannot contain changes, the same
    * pruning MERGE itself uses), so the cost tracks the delta, not the
    * table.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val to = readSnapshot(new Path(snapshotsDir, snapshotFileName(toVersion)))
    val toCols = to.schema.fieldNames
    changesJoined(fromVersion, toVersion)
      .select(toCols.map(c =>
        when(col("_change_type") === "delete", col(s"_from.`$c`"))
          .otherwise(col(s"_to.`$c`")).as(c)).toIndexedSeq :+ col("_change_type"): _*)
  }

  /** [[changesBetween]] with BOTH images: one row per changed key carrying
    * `before` (NULL on insert) and `after` (NULL on delete) structs plus
    * `_change_type` — the retraction-capable change feed incremental
    * consumers need (e.g. [[graft.ext.IncrementalAgg]], which must
    * subtract an update's old contribution, not just add the new one).
    * Same bucket-pruned plan as [[changesBetween]].
    */
  def changesBetweenDetailed(fromVersion: Long, toVersion: Long): DataFrame = {
    val to = readSnapshot(new Path(snapshotsDir, snapshotFileName(toVersion)))
    val toCols = to.schema.fieldNames
    def img(side: String, absentWhen: String) =
      when(col("_change_type") === absentWhen, lit(null))
        .otherwise(struct(toCols.map(c => col(s"$side.`$c`").as(c)).toIndexedSeq: _*))
    changesJoined(fromVersion, toVersion)
      .select(
        img("_from", "insert").as("before"),
        img("_to", "delete").as("after"),
        col("_change_type"))
  }

  private def changesJoined(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion, s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val from = readSnapshot(new Path(snapshotsDir, snapshotFileName(fromVersion)))
    val to = readSnapshot(new Path(snapshotsDir, snapshotFileName(toVersion)))
    val changedBuckets =
      (from.files.toSet.diff(to.files.toSet) ++ to.files.toSet.diff(from.files.toSet)).map(_.bucket) ++
        // a bucket whose equality-delete set changed has row changes even
        // when its data-file list is identical (merge-on-read commits)
        (from.deletes.toSet.diff(to.deletes.toSet) ++ to.deletes.toSet.diff(from.deletes.toSet)).map(_.bucket)
    val key = keyColForBucketing(to)
    val keyTo = col(s"_to.`$key`")
    val keyFrom = col(s"_from.`$key`")
    // The FROM snapshot may predate an ADD COLUMNS — align it to the TO
    // schema (missing columns read as NULL, matching schema-on-read).
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.map(_.toLowerCase).toSet
      df.select(to.schema.fields.map(fd =>
        if (have.contains(fd.name.toLowerCase)) col(fd.name).cast(fd.dataType).as(fd.name)
        else lit(null).cast(fd.dataType).as(fd.name)).toIndexedSeq: _*)
    }
    // Adopted files surface in the diff as bucket −1; when any are in the
    // window, each side additionally reads its OWN adopted files in full
    // (an adoption/absorption changes every row they hold, and rows that
    // are byte-identical on both sides fall out of the join as no-change).
    def sideDf(snap: Snapshot): DataFrame = {
      val real = readSnapshotDf(snap, Some(changedBuckets))
      val adoptedFs = snap.files.filter(_.bucket < 0)
      if (!changedBuckets.exists(_ < 0) || adoptedFs.isEmpty) real
      else real.unionByName(readFiles(snap, adoptedFs))
    }
    // NULL-safe key join + explicit presence markers: the table treats
    // NULL as a valid merge key (merge groups it, the delete-applying
    // read matches it with <=>), so the change feed must pair NULL-keyed
    // rows across versions too — a plain equality join would report an
    // unchanged NULL-keyed row as a phantom delete+insert whenever its
    // bucket is in the diff. With <=> matching NULLs, `key IS NULL` can
    // no longer mean "side absent"; the markers can.
    val f = aligned(sideDf(from)).withColumn("_fp", lit(true)).alias("_from")
    val t = sideDf(to).withColumn("_tp", lit(true)).alias("_to")
    val joined = f.join(t, keyFrom <=> keyTo, "full_outer")
    val toCols = to.schema.fieldNames
    val rowDiffers = toCols.filter(_ != key).map(c =>
      !(col(s"_to.`$c`") <=> col(s"_from.`$c`"))).reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("_change_type",
        when(col("_from._fp").isNull, "insert")
          .when(col("_to._tp").isNull, "delete")
          .when(rowDiffers, "update"))
      .where(col("_change_type").isNotNull)
  }

  /** File-level pruned view: `Some(bs)` keeps only REAL (bucketed) files
    * of those buckets — adopted (bucket < 0) files are excluded, because a
    * file-granularity include would leak rows of other buckets; callers
    * needing them add [[readFiles]] of the adopted set with their own
    * row-level handling (see [[read]], [[merge]], [[changesBetween]]).
    */
  private def readSnapshotDf(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val files = buckets match {
      case Some(bs) => snap.files.filter(f => f.bucket >= 0 && bs.contains(f.bucket))
      case None     => snap.files
    }
    readFiles(snap, files)
  }

  /** Read an explicit file subset with the snapshot's schema-on-read,
    * APPLYING the snapshot's equality deletes ([[DeleteFile]]) through
    * [[LiveScan]]: a data row dies when a delete file of its bucket
    * carries its merge key at a HIGHER sequence than the row's data file.
    * Only deletes that can match are handed over: those above the oldest
    * file's sequence, and of the buckets being read (keys hash to exactly
    * one bucket) — unless an adopted (bucket −1) file is read, whose rows
    * can be of ANY bucket. Snapshots without deletes (every copy-on-write
    * table) read as the plain manifest scan.
    */
  private def readFiles(snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    val minSeq = files.map(_.seq).minOption.getOrElse(Long.MaxValue)
    val buckets = files.map(_.bucket).toSet
    val anyBucket = buckets.exists(_ < 0)
    val relevant = snap.deletes.filter(d => d.seq > minSeq && (anyBucket || buckets.contains(d.bucket)))
    def qualified(rel: String) = fs.makeQualified(new Path(dataDir, rel)).toString
    val eq = if (relevant.isEmpty) None else {
      val key = keyColForBucketing(snap)
      val keyField = snap.schema.fields.find(_.name.equalsIgnoreCase(key)).getOrElse(
        throw new IllegalStateException(s"merge key column '$key' missing from table schema"))
      // delete files are always parquet, holding just the key
      Some(LiveScan.EqualityDeletes(keyField.name,
        relevant.map(d => ScanFile(qualified(d.path), d.bytes, d.seq)),
        Some(keyField.copy(nullable = true))))
    }
    val format = SnapshotTable.resolveFormat(snap.properties)
    LiveScan(spark, snap.schema,
      files.map(f => ScanFile(qualified(f.path), f.bytes, f.seq, format)), eq = eq)
  }

  // ----------------------------------------------------------------- writes

  /** CREATE OR REPLACE TABLE ... AS SELECT — atomic full swap
    * (reference backfill `Overwrite` completion, `docs/backfill.md:42-47`).
    */
  def createOrReplace(
      df: DataFrame,
      mergeKeyCol: String,
      numBuckets: Int,
      extraProps: Map[String, String] = Map.empty
  ): Snapshot = {
    SnapshotTable.rejectReservedColumns(df.schema)
    val commitId = UUID.randomUUID().toString
    val prevProps = if (exists) currentSnapshot.properties else Map.empty[String, String]
    // a full swap rewrites every row, so it always (re)establishes the
    // Iceberg bucket layout — an existing table's pre-migration
    // "xxhash64" is deliberately NOT carried (the caller can still pin it
    // via extraProps); this is the zero-extra-cost migration path
    val mergedProps = prevProps ++ extraProps + (PropMergeKeyCol -> mergeKeyCol) +
      (PropBucketFn -> extraProps.getOrElse(PropBucketFn, BucketFnIceberg))
    val written = writePartitions(partitionByBucket(df, mergeKeyCol, numBuckets, None, mergedProps),
      commitId, props = mergedProps)
    val prevVersion = if (exists) currentSnapshot.version else 0L
    commit(Snapshot(prevVersion + 1, df.schema, numBuckets, written, mergedProps, now()))
  }

  /** ALTER TABLE ... ADD COLUMNS — metadata-only commit; existing Parquet
    * files lack the columns and read as NULL (`docs/backfill.md:14-19`:
    * staging-only columns are added, target-only columns read as NULL).
    */
  def addColumns(newFields: Seq[StructField]): Snapshot = {
    val snap = currentSnapshot
    val existing = snap.schema.fieldNames.map(_.toLowerCase).toSet
    val toAdd = newFields.filterNot(f => existing.contains(f.name.toLowerCase))
    if (toAdd.isEmpty) snap
    else commit(snap.copy(version = snap.version + 1, schema = StructType(snap.schema.fields ++ toAdd), timestampMs = now()))
  }

  def setProperties(props: Map[String, String]): Snapshot = {
    val snap = currentSnapshot
    commit(snap.copy(version = snap.version + 1, properties = snap.properties ++ props, timestampMs = now()))
  }

  /** MERGE INTO target USING staged — the reference's core operator
    * (`MergeBatchProcessor`, SURVEY.md §2.A13):
    *   - matched AND staged.IsDelete                      → DELETE
    *   - matched AND staged.version >  target.version     → UPDATE (full row)
    *   - matched AND staged.version <= target.version     → no-op (replay)
    *   - not matched AND NOT IsDelete                     → INSERT
    *
    * `staged` must be key-unique (apply [[graft.ops.LatestVersionDedup]]
    * first). Only buckets containing staged keys are rewritten; everything
    * else is carried forward as metadata. The union+argmax formulation below
    * is equivalent to the anti-join+union MERGE rewrite with a single
    * exchange: (affected target buckets + staged rows) are partitioned by
    * bucket once, and each partition's argmax is written as it stands.
    */
  def merge(
      staged: DataFrame,
      mergeKeyCol: String,
      versionCol: String,
      isDeleteCol: String,
      extraProps: Map[String, String] = Map.empty,
      knownAffected: Option[Set[Int]] = None
  ): Snapshot = {
    SnapshotTable.rejectReservedColumns(staged.schema)
    val snap = currentSnapshot
    val n = snap.numBuckets
    val fn = SnapshotTable.bucketFnOf(snap.properties)

    // Align schemas FIRST: target may have gained columns the staged batch
    // lacks (and vice versa — run addColumns/schema migration BEFORE
    // merge), and the key must be cast to the TABLE's type before any
    // hashing — a staged key of a mismatched type (int vs bigint) hashes
    // differently under xxhash64, which would compute wrong affected
    // buckets and silently drop rows via the targetBuckets filter.
    val unionSchema = snap.schema
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.map(_.toLowerCase).toSet
      val cols = unionSchema.fields.map { f =>
        if (have.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }

    // Buckets touched by this change set — either precomputed by the caller
    // (e.g. folded into an earlier pass over the batch) or collected here.
    // Collecting distinct bucket ids is bounded by numBuckets (ints), never
    // by data size. Cache staged only when we must act on it twice.
    val stagedB = aligned(staged).withColumn("gbk", bucketExpr(mergeKeyCol, n, fn))
    val cached = if (knownAffected.isEmpty) { stagedB.cache(); true } else false
    val stagedAffected: Set[Int] = knownAffected.getOrElse(
      stagedB.select("gbk").distinct().collect().map(_.getInt(0)).toSet)
    // Adopted (externally written, unbucketed) files are fully ABSORBED by
    // the first merge after adoption: their rows can hash to any bucket,
    // and the rewrite drops rows outside the affected set, so every
    // bucket an adopted row lands in must join the rewrite. The extra scan
    // is bounded by the adopted batch (one distinct-gbk job over just
    // those files), and afterwards the table is fully bucketed again —
    // the adopt → merge lifecycle mirrors Iceberg add_files followed by a
    // rewrite that re-establishes the bucket layout.
    val adopted = snap.files.filter(_.bucket < 0)
    val adoptedAffected: Set[Int] =
      if (adopted.isEmpty) Set.empty
      else readFiles(snap, adopted).select(bucketExpr(mergeKeyCol, n, fn).as("gbk"))
        .distinct().collect().map(_.getInt(0)).toSet
    val affected = stagedAffected ++ adoptedAffected

    val targetAffected = read(Some(affected))

    val tgt = aligned(targetAffected).withColumn("_del", lit(false))
    val src = stagedB.drop("gbk") // already aligned
      .withColumn("_del", coalesce(col(isDeleteCol).cast("boolean"), lit(false)))

    // Latest version wins across {existing row, staged row}; a tombstone
    // only deletes when it IS the latest version (SURVEY.md §7 hard-part 4).
    // Tie (replayed row, equal version): prefer the target row — no-op.
    // The union is partitioned by bucket once; that already clusters every
    // (bucket, key) group, so the argmax adds no exchange and the write
    // writes from the same partitions.
    val (byBucket, layout) = partitionByBucket(
      tgt.withColumn("_pri", lit(1)).unionByName(src.withColumn("_pri", lit(0))),
      mergeKeyCol, n, Some(affected), snap.properties)
    val winner = byBucket
      .groupBy(col("gbk"), col(mergeKeyCol))
      .agg(max(struct(col(versionCol), col("_pri"), col("_del"),
        struct(unionSchema.fieldNames.map(col).toIndexedSeq: _*).as("row"))).as("w"))
      .where(!col("w._del"))
      .select(col("gbk") +: unionSchema.fieldNames.map(f => col(s"w.row.$f").as(f)).toIndexedSeq: _*)

    val commitId = UUID.randomUUID().toString
    val written = writePartitions((winner, layout), commitId, props = snap.properties,
      seq = snap.version + 1)
    if (cached) stagedB.unpersist()
    // adopted files are never carried — their rows were just rewritten
    // into their real buckets (carrying them would duplicate every row).
    // Equality deletes of the rewritten buckets are ABSORBED: the target
    // read above applied them, so the fresh files already reflect them.
    val carried = snap.files.filterNot(f => f.bucket < 0 || affected.contains(f.bucket))
    commit(snap.copy(
      version = snap.version + 1,
      files = carried ++ written,
      properties = snap.properties ++ extraProps,
      timestampMs = now(),
      deletes = snap.deletes.filterNot(d => affected.contains(d.bucket))))
  }

  /** MERGE with EQUALITY DELETES (Iceberg v2 merge-on-read parity): the
    * same matched-delete / update-if-newer / insert semantics as [[merge]]
    * — bit-identical final reads, pinned by spec — but instead of
    * REWRITING every file of every affected bucket, the commit appends
    *  - new data files holding only the WINNING staged rows, and
    *  - per-bucket [[DeleteFile]]s holding the merge keys whose existing
    *    rows are superseded (updated or tombstoned),
    * so write amplification is O(change set), not O(touched buckets).
    * Readers apply the deletes as a left-anti join ([[LiveScan]]);
    * [[compact]] (or any copy-on-write [[merge]] of the bucket) later
    * rewrites the bucket clean and drops the delete entries.
    *
    * The trade is the classic merge-on-read one: cheap commits, a
    * per-read anti-join against the accumulated (change-set-sized) delete
    * keys until maintenance absorbs them. For a CDC stream into a 100 TB
    * table this is the difference between a micro-batch rewriting
    * multi-GB buckets every trigger and a micro-batch writing only its
    * own rows — the reference's Iceberg targets make exactly this choice
    * with format-version-2 position/equality deletes.
    *
    * Decision rule per staged key (same argmax as [[merge]], equal
    * versions prefer the target row — replay-safe):
    *  - staged version > target's current version → the old row dies (a
    *    delete key) and, unless the staged row is a tombstone, the new
    *    row is appended;
    *  - key absent from the target → plain insert (tombstones for absent
    *    keys are no-ops, nothing to delete);
    *  - staged version ≤ target's → no-op.
    *
    * The target is READ (bucket-pruned, bloom/stats-assisted) to find the
    * per-key current version — merge-on-read removes the rewrite, not the
    * read; in-batch latest-version dedup applies first, as in [[merge]].
    * Adopted (bucket −1) files are absorbed via [[rebucketAdopted]] up
    * front: equality deletes are bucket-scoped and a foreign file's rows
    * can hide in any bucket.
    */
  def mergeOnRead(
      staged: DataFrame,
      mergeKeyCol: String,
      versionCol: String,
      isDeleteCol: String,
      extraProps: Map[String, String] = Map.empty
  ): Snapshot = {
    SnapshotTable.rejectReservedColumns(staged.schema)
    if (currentSnapshot.files.exists(_.bucket < 0)) rebucketAdopted()
    val snap = currentSnapshot
    val n = snap.numBuckets
    val fn = SnapshotTable.bucketFnOf(snap.properties)
    val newSeq = snap.version + 1
    val unionSchema = snap.schema

    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.map(_.toLowerCase).toSet
      val cols = unionSchema.fields.map { f =>
        if (have.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }

    // Align BEFORE hashing: gbk and the staged-key bloom must be computed
    // on the TABLE's key type — a staged key of a mismatched type (int vs
    // bigint) hashes differently under xxhash64, so the target-version
    // scan could miss the key's real bucket and a stale row would insert
    // as a duplicate instead of no-op'ing.
    val stagedB = aligned(staged).withColumn("gbk", bucketExpr(mergeKeyCol, n, fn)).cache()
    try {
      // ONE pass answers both "which buckets" (bounded by n) and "how many
      // rows" (the bloom's capacity) — separate distinct/count jobs would
      // pay the per-job floor twice per commit at stream cadence
      val h = ph("mor:gbk+count agg")(
        stagedB.agg(collect_set(col("gbk")), count(lit(1))).head())
      val affected: Set[Int] = h.getSeq[Int](0).toSet

      // In-batch latest-version dedup (A14): one winner per staged key,
      // tombstone ordering identical to merge's union+argmax.
      val src = stagedB.drop("gbk") // already aligned
        .withColumn("_del", coalesce(col(isDeleteCol).cast("boolean"), lit(false)))
      val stagedLatest = src
        .groupBy(col(mergeKeyCol).as("_k"))
        .agg(max(struct(col(versionCol), col("_del"),
          struct(unionSchema.fieldNames.map(col).toIndexedSeq: _*).as("row"))).as("w"))
        .select(col("_k"), col(s"w.`$versionCol`").as("_v"), col("w._del").as("_d"),
          col("w.row").as("_row"))

      // Current max version per key in the affected buckets (deletes from
      // earlier merge-on-read commits are applied by read()). Only STAGED
      // keys matter, so the scan is pre-filtered with a bloom of the
      // staged keys (the runtime-filter shape JoinOps.bloomSemiJoin
      // documents): at a production ratio — micro-batch keys ≪ bucket
      // rows — the version aggregate then runs over ~the change set, not
      // whole buckets. False positives only add ignorable left-join rows;
      // NULL keys bypass the bloom (NULL is a valid merge key and
      // xxhash64(NULL) would silently drop it — a false negative).
      graft.sql.GraftExtensions.ensureRegistered(spark)
      val nStaged = math.max(h.getLong(1), 1L)
      val bf = ph("mor:bloom agg")(stagedB.agg(
        call_function("bloom_agg", xxhash64(col(mergeKeyCol)), // aligned = table key type
          lit(nStaged), lit(math.min(nStaged * 8, 67108864L))).as("_bf"))
        .head().getAs[Array[Byte]](0))
      val tgtVer = read(Some(affected))
        .where(col(mergeKeyCol).isNull ||
          call_function("bloom_might_contain", lit(bf), xxhash64(col(mergeKeyCol))))
        .groupBy(col(mergeKeyCol).as("_tk"))
        .agg(max(col(versionCol)).as("_tv"))
        .withColumn("_texists", lit(true))

      // "staged beats target" must mirror merge()'s struct argmax, where a
      // NULL version sorts BELOW every value: strict `_v > _tv` alone is
      // NULL when either version is NULL, which would silently skip the
      // kill (duplicate keys) or drop a tombstone. NULL-version target
      // rows lose to any non-NULL staged version; NULL-version staged
      // rows never beat anything (equal-or-NULL prefers the target, the
      // replay-safe tie rule). `_tv.isNull` alone cannot distinguish "no
      // target row" from "target row with NULL version" — `_texists` can.
      val beats = coalesce(col("_v") > col("_tv"),
        col("_tv").isNull && col("_v").isNotNull, lit(false))
      val decided = stagedLatest
        .join(tgtVer, col("_k") <=> col("_tk"), "left")
        .withColumn("_kill", coalesce(col("_texists"), lit(false)) && beats)
        .withColumn("_upsert", !col("_d") && (col("_texists").isNull || beats))
        .where(col("_kill") || col("_upsert"))
        .cache() // two consumers (rows + delete keys); bounded by the batch

      val commitId = UUID.randomUUID().toString
      val newRows = decided.where(col("_upsert"))
        .select(unionSchema.fieldNames.map(f => col(s"_row.`$f`").as(f)).toIndexedSeq: _*)
      val delKeys = decided.where(col("_kill")).select(col("_k").as(mergeKeyCol))
      // The data write and the delete write are INDEPENDENT consumers of
      // the cached `decided` frame (disjoint output dirs, separate
      // committers, no ordering constraint — visibility comes from the
      // single manifest commit below), so they run CONCURRENTLY from two
      // driver threads (guide §2.6: actions are only sequential because
      // the driver calls them sequentially). Each write's tail — the last
      // straggler task plus per-file committer/footer IO — leaves cores
      // idle that the other job back-fills; racing consumers of the
      // not-yet-materialized cache are safe (BlockManager computes each
      // partition once under a block lock). Measured ~0.5-1 s per
      // merge-on-read commit at bench scale; at production scale the win
      // is the smaller of the two jobs' wall time.
      val (written, delWritten) = SnapshotTable.inParallel(
        ph("mor:writePartitions")(writePartitions(
          partitionByBucket(newRows, mergeKeyCol, n, Some(affected), snap.properties),
          commitId, props = snap.properties, seq = newSeq)),
        ph("mor:writeDeletes")(
          writeDeletes(delKeys, mergeKeyCol, n, fn, commitId, newSeq)))
      decided.unpersist()

      commit(snap.copy(
        version = newSeq,
        files = snap.files ++ written,
        properties = snap.properties ++ extraProps,
        timestampMs = now(),
        deletes = snap.deletes ++ delWritten))
    } finally stagedB.unpersist()
  }

  /** Write per-bucket equality-delete files (always parquet — they are
    * table metadata, not data, so the table's ORC option does not apply).
    * One column: the merge key. Returns the manifest entries.
    */
  private def writeDeletes(
      keys: DataFrame, mergeKeyCol: String, n: Int, fn: String, commitId: String, seq: Long
  ): Seq[DeleteFile] = {
    val out = new Path(dataDir, s"$commitId-deletes")
    val withB = keys.withColumn("gbk", bucketExpr(mergeKeyCol, n, fn))
    withB.repartition(math.min(n, maxWriteTasks), col("gbk"))
      .write.partitionBy("gbk").mode("append").parquet(out.toString)
    if (!fs.exists(out)) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = fs.listStatus(out)
      .filter(_.isDirectory)
      .flatMap { bdir =>
        val b = bdir.getPath.getName.stripPrefix("gbk=").toInt
        fs.listStatus(bdir.getPath)
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          .map(st => (b, bdir.getPath.getName, st))
      }
      .toSeq
    // footer row counts in parallel — O(new files) metadata IO, and each
    // open is independent, so serial driver IO was pure added latency
    SnapshotTable.parallelFooterIo(entries) { case (b, bdirName, st) =>
      DeleteFile(s"$commitId-deletes/$bdirName/${st.getPath.getName}",
        b, seq, FileStats.parquetRowCount(conf, st.getPath), st.getLen)
    }
  }

  /** Iceberg `add_files` parity — the reachable half of external-engine
    * interop (the reference's targets are writable by any engine through a
    * REST catalog, `/root/reference/src/main/scala/main.scala:106-110`;
    * with no catalog service in scope, external WRITES enter as adopted
    * files): register parquet/ORC files written by a FOREIGN engine into
    * the table as a metadata-only commit. The bytes are referenced in
    * place — never copied, rewritten, or moved — and carry manifest bucket
    * −1 ("unbucketed"), because a foreign writer knows nothing about the
    * table's hash-bucket layout.
    *
    * Lifecycle: reads (full and bucket-pruned) see adopted rows
    * immediately ([[read]] row-filters them on pruned scans); the next
    * [[merge]] or [[compact]]/[[rebucketAdopted]] absorbs them into real
    * buckets and drops the −1 entries (the foreign file itself is left
    * untouched on disk — the table never owned it). Key collisions between
    * adopted rows and existing rows are reconciled by the next merge's
    * version argmax, like any replayed row; like Iceberg `add_files`, the
    * adoption itself performs no key-level reconciliation.
    *
    * Validation is fail-fast and metadata-only: every column present in
    * the files must exist in the table schema with the identical type
    * (extra table columns read as NULL via schema-on-read), the merge key
    * column must be present, and reserved internal names are rejected.
    * When the table configures `write.stats.columns`, per-file min/max is
    * read from the foreign parquet footers so adopted files join the
    * manifest skipping index ([[readRange]]) like native ones.
    */
  def adoptFiles(paths: Seq[String]): Snapshot = {
    require(paths.nonEmpty, "adoptFiles needs at least one file")
    val snap = currentSnapshot
    val format = SnapshotTable.resolveFormat(snap.properties)
    val qualified = paths.map { p =>
      val qp = fs.makeQualified(new Path(p))
      require(fs.exists(qp) && fs.getFileStatus(qp).isFile, s"adoptFiles: $p is not an existing file")
      qp
    }
    val reader = spark.read
    val fileSchema = (format match {
      case "orc"  => reader.orc(qualified.map(_.toString): _*)
      case "avro" => reader.format(SnapshotTable.AvroFormatClass).load(qualified.map(_.toString): _*)
      case _      => reader.parquet(qualified.map(_.toString): _*)
    }).schema
    SnapshotTable.rejectReservedColumns(fileSchema)
    val byLower = snap.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    fileSchema.fields.foreach { f =>
      byLower.get(f.name.toLowerCase) match {
        case None => throw new IllegalArgumentException(
          s"adoptFiles: column '${f.name}' is not in the table schema " +
            s"(run addColumns first; table has: ${snap.schema.fieldNames.mkString(", ")})")
        case Some(tf) => require(tf.dataType == f.dataType,
          s"adoptFiles: column '${f.name}' is ${f.dataType} in the file but ${tf.dataType} in the table")
      }
    }
    val key = keyColForBucketing(snap)
    require(fileSchema.fieldNames.exists(_.equalsIgnoreCase(key)),
      s"adoptFiles: merge key column '$key' missing from the adopted files")
    val statsCols = snap.properties.get(PropStatsColumns).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = qualified.map { qp =>
      val (stats, rows) = format match {
        case "parquet" => FileStats.parquetMinMaxAndCount(conf, qp, statsCols, snap.schema)
        case "orc"     => (Map.empty[String, (Double, Double)], FileStats.orcRowCount(conf, qp))
        case _         => (Map.empty[String, (Double, Double)], -1L)
      }
      // adopted rows are NEW as of this commit — deletes from earlier
      // sequences must not touch them, hence the fresh sequence stamp
      DataFile(qp.toString, SnapshotTable.AdoptedBucket, stats, snap.version + 1,
        rows, fs.getFileStatus(qp).getLen)
    }
    commit(snap.copy(version = snap.version + 1, files = snap.files ++ entries, timestampMs = now()))
  }

  // ------------------------------------------------------------ maintenance

  /** Absorb adopted files into the bucket layout: rewrite JUST their rows
    * into real bucket files (one shuffle bounded by the adopted batch —
    * existing bucket files are untouched; a bucket simply gains one more
    * file, which plain [[compact]] consolidates later) and drop the −1
    * manifest entries. No-op without adopted files. The foreign files
    * themselves stay on disk, now unreferenced — the table never owned
    * them.
    */
  def rebucketAdopted(): Snapshot = {
    val snap = currentSnapshot
    val adopted = snap.files.filter(_.bucket < 0)
    if (adopted.isEmpty) return snap
    val df = readFiles(snap, adopted)
    val commitId = UUID.randomUUID().toString
    val written = writePartitions(
      partitionByBucket(df, keyColForBucketing(snap), snap.numBuckets, None, snap.properties),
      commitId, props = snap.properties, seq = snap.version + 1)
    commit(snap.copy(version = snap.version + 1,
      files = snap.files.filter(_.bucket >= 0) ++ written, timestampMs = now()))
  }

  /** Migrate a pre-existing xxhash64-bucketed table to the Iceberg bucket
    * layout ([[SnapshotTable.BucketFnIceberg]]): one full rewrite — every
    * live row (deletes applied) re-hashed by the spec's `bucket[N]`
    * transform — then the layout version flips in the table properties,
    * so every later merge/compaction writes spec-exact buckets and the
    * Iceberg export starts publishing the `bucket(N, key)` partition
    * spec. Old snapshots keep their own properties and therefore keep
    * bucket-pruning under xxhash64 when time-traveled — per-snapshot
    * correctness, no flag day. No-op when the table is already on the
    * Iceberg layout. (A CREATE OR REPLACE migrates implicitly — it
    * rewrites everything anyway; this is the in-place path for tables
    * that must keep their version history.)
    */
  def migrateBucketLayout(): Snapshot = {
    val snap = currentSnapshot
    if (SnapshotTable.bucketFnOf(snap.properties) == SnapshotTable.BucketFnIceberg) return snap
    val props = snap.properties + (SnapshotTable.PropBucketFn -> SnapshotTable.BucketFnIceberg)
    val df = read() // applies outstanding equality deletes — the rewrite absorbs them
    val commitId = UUID.randomUUID().toString
    val written = writePartitions(
      partitionByBucket(df, keyColForBucketing(snap), snap.numBuckets, None, props),
      commitId, props = props, seq = snap.version + 1)
    commit(snap.copy(version = snap.version + 1, files = written, properties = props,
      timestampMs = now(), deletes = Seq.empty))
  }

  /** OPTIMIZE: rewrite buckets whose files are smaller than the threshold
    * into one file per bucket (reference `TargetMaintenanceProcessor` +
    * Trino `ALTER TABLE EXECUTE optimize`, `docs/crd.md:150-159`).
    */
  def compact(fileSizeThresholdBytes: Long): Snapshot = {
    // absorb adopted files first: rebucketing externally written rows into
    // their real buckets IS small-file consolidation's job, and the plain
    // per-bucket logic below cannot reason about bucket −1
    rebucketAdopted()
    val snap = currentSnapshot
    val byBucket = snap.files.groupBy(_.bucket)
    // Rewrite only buckets with SEVERAL files of which at least one is
    // small (the reference's "files smaller than threshold into larger
    // ones"): a single-file bucket has nothing to merge, and a bucket of
    // uniformly-large files is already compact — either predicate firing
    // on them would re-rewrite the same bytes every maintenance tick
    // without converging.
    // Buckets carrying equality deletes ([[mergeOnRead]]) always qualify:
    // absorbing the per-read anti-join back into plain files is the other
    // half of compaction's job under merge-on-read (Iceberg's
    // rewrite_data_files + rewrite_position_delete_files in one pass).
    val needs = byBucket.filter { case (_, fsOfB) =>
      fsOfB.size > 1 && fsOfB.exists(f => fileLen(f) < fileSizeThresholdBytes)
    }.keySet ++ snap.deletes.map(_.bucket).toSet
    if (needs.isEmpty) return snap
    val df = read(Some(needs))
    val commitId = UUID.randomUUID().toString
    val written = writePartitions(
      partitionByBucket(df, keyColForBucketing(snap), snap.numBuckets, Some(needs), snap.properties),
      commitId, coalesceOne = true, props = snap.properties, seq = snap.version + 1)
    val carried = snap.files.filterNot(f => needs.contains(f.bucket))
    commit(snap.copy(version = snap.version + 1, files = carried ++ written, timestampMs = now(),
      deletes = snap.deletes.filterNot(d => needs.contains(d.bucket))))
  }

  /** OPTIMIZE ... ZORDER BY (the Delta/Iceberg layout rewrite, an
    * extension beyond the reference's plain optimize): rewrite EVERY
    * bucket with rows sorted by the Morton interleave of `cols`
    * ([[ZOrder.zvalue]]) and persist the layout in table properties, so
    * every later merge/compaction write keeps z-sorting its rewritten
    * buckets (at the cost of one stats pass over each written batch).
    * Content is untouched — reads stay bit-identical; what changes is
    * file/row-group min/max clustering, so scans with predicates on ANY
    * layout column skip instead of reading a full stripe. Bucket
    * membership (hash of the merge key) is unaffected — bucket pruning
    * and z-skipping compose.
    */
  def zorder(cols: Seq[String]): Snapshot = {
    val snap = currentSnapshot
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"z-order columns not in table schema: ${missing.mkString(",")}")
    // z-order exists to make per-file min/max boxes tight — record them in
    // the manifest too (unless the user already configured a stats set),
    // so readRange skips files without opening footers
    val props = snap.properties +
      (SnapshotTable.PropZOrderColumns -> cols.mkString(",")) +
      (SnapshotTable.PropStatsColumns ->
        snap.properties.getOrElse(SnapshotTable.PropStatsColumns, cols.mkString(",")))
    val df = read()
    val commitId = UUID.randomUUID().toString
    // coalesceOne = false: unlike plain compaction, the z rewrite WANTS
    // the maxRowsPerFile split — consecutive z-ranges land in separate
    // files, which is exactly what makes file-level min/max boxes tight
    val written = writePartitions(
      partitionByBucket(df, keyColForBucketing(snap), snap.numBuckets, None, props),
      commitId, props = props, seq = snap.version + 1)
    // the full rewrite read applied (and thereby absorbed) every delete
    commit(snap.copy(version = snap.version + 1, files = written, properties = props,
      timestampMs = now(), deletes = Seq.empty))
  }

  /** expire_snapshots(olderThan): drop snapshot manifests older than the
    * cutoff (always keeping the current one) — `docs/crd.md:172-182`.
    */
  def expireSnapshots(olderThanMs: Long): Seq[Long] = {
    requireMain("expireSnapshots")
    val curName = readText(fs, currentPtr).trim
    val tagged = listTags.values.map(snapshotFileName).toSet // a tagged version never expires
    // any snapshot a live branch head points at is pinned too
    val branchHeads: Set[String] =
      if (!fs.exists(branchesDir)) Set.empty
      else fs.listStatus(branchesDir).filter(_.isFile)
        .filterNot(st => st.getPath.getName.endsWith(".base") ||
          st.getPath.getName.startsWith("."))
        .map(st => readText(fs, st.getPath).trim).toSet
    val removed = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (!fs.exists(snapshotsDir)) return Seq.empty
    // ALL snapshot files age out — main-line v*.json and superseded
    // branch b-*.json alike (a branch's non-head history expires like
    // main's); the pins above protect every reachable head.
    fs.listStatus(snapshotsDir).filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .foreach { st =>
        val n = st.getPath.getName
        if (n != curName && !tagged.contains(n) && !branchHeads.contains(n) &&
            readSnapshot(st.getPath).timestampMs < olderThanMs) {
          fs.delete(st.getPath, false)
          n match { case SnapshotFileName(v) => removed += v.toLong; case _ => () }
        }
      }
    removed.toSeq
  }

  /** The snapshot manifest at `version` — work-count observability: the
    * bench derives per-commit ADDED files/rows by diffing consecutive
    * manifests, so a timing swing on the e2e leg is adjudicable by counts
    * (commits, staged rows, files written) instead of cross-run seconds.
    */
  def snapshotAt(version: Long): Snapshot =
    readSnapshot(new Path(snapshotsDir, snapshotFileName(version)))

  /** DESCRIBE HISTORY parity: one row per RETAINED main-line snapshot,
    * oldest first — `(version, timestamp_ms, n_files, n_delete_files,
    * n_buckets, properties_count)` plus the watermark if set. Metadata
    * only (manifest reads, no data IO); expired snapshots are absent by
    * definition. Branch-local history (b-*.json) is not listed — publish
    * normalizes a branch head to a main-line version.
    */
  def history: DataFrame = {
    import spark.implicits._
    snapshotVersions.map { v =>
      val s = readSnapshot(new Path(snapshotsDir, snapshotFileName(v)))
      (s.version, s.timestampMs, s.files.size.toLong, s.deletes.size.toLong,
        s.numBuckets.toLong, s.properties.get(SnapshotTable.PropWatermark))
    }.toDF("version", "timestamp_ms", "n_files", "n_delete_files", "n_buckets", "watermark")
  }

  // ------------------------------------------------- rollback and tags

  /** ROLLBACK to an earlier snapshot (Iceberg `rollback_to_snapshot`):
    * commits a NEW snapshot whose content — schema, files, deletes,
    * properties — is the old one's, so history stays linear and
    * append-only (the bad commits remain inspectable via [[readAt]] until
    * expiry; nothing is deleted). Rolling back is itself undoable by
    * rolling "back" to the pre-rollback version. Metadata-only: no data
    * file is touched, and orphan removal keeps every file any retained
    * snapshot references.
    */
  def rollbackTo(version: Long): Snapshot = {
    val p = new Path(snapshotsDir, snapshotFileName(version))
    require(fs.exists(p),
      s"snapshot v$version expired or never existed (have: ${snapshotVersions.mkString(",")})")
    val old = readSnapshot(p)
    val cur = currentSnapshot
    commit(old.copy(version = cur.version + 1, timestampMs = now()))
  }

  private val tagsDir = new Path(dir, "_tags")
  // tag names become file names — keep them portable and unambiguous
  private def tagPath(name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"),
      s"tag name '$name' must match [A-Za-z0-9._-]{1,128}")
    new Path(tagsDir, name)
  }

  /** Tag a snapshot version with a stable name (Iceberg tags — e.g. the
    * exact table state a model was trained against). A tagged version is
    * exempt from [[expireSnapshots]] until the tag is dropped, so
    * [[readTag]] stays reproducible indefinitely; data files stay live
    * via the retained manifest ([[removeOrphanFiles]] honors it).
    */
  def createTag(name: String, version: Long): Unit = {
    require(fs.exists(new Path(snapshotsDir, snapshotFileName(version))),
      s"cannot tag v$version: snapshot expired or never existed")
    val p = tagPath(name)
    require(!fs.exists(p), s"tag '$name' already exists (drop it first)")
    writeText(fs, p, version.toString)
  }

  def dropTag(name: String): Unit = {
    val p = tagPath(name)
    require(fs.exists(p), s"tag '$name' does not exist")
    fs.delete(p, false)
  }

  def listTags: Map[String, Long] =
    if (!fs.exists(tagsDir)) Map.empty
    else fs.listStatus(tagsDir).filter(_.isFile)
      .map(st => st.getPath.getName -> readText(fs, st.getPath).trim.toLong)
      .toMap

  /** Read the table as of a tag — [[readAt]] by name. */
  def readTag(name: String): DataFrame = {
    val tags = listTags
    require(tags.contains(name), s"tag '$name' does not exist (have: ${tags.keys.toSeq.sorted.mkString(",")})")
    readAt(tags(name))
  }

  // ------------------------------------- branches (write-audit-publish)

  private def branchPtr(name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"),
      s"branch name '$name' must match [A-Za-z0-9._-]{1,128}")
    // ".base" is the fork-point sidecar's suffix — a branch of that name
    // would collide with another branch's sidecar
    require(!name.endsWith(".base"), s"branch name '$name' must not end with .base")
    new Path(branchesDir, name)
  }

  /** Create a branch at the current head (Iceberg branching): a second
    * head pointer over the SAME data/metadata. Commits through
    * [[branchView]] advance only the branch; `_current` — what every
    * reader of this table sees — does not move until [[fastForward]].
    *
    * This is the write-audit-publish workflow's first step: write a
    * micro-batch to an audit branch, validate it (e.g.
    * [[graft.ext.Quality.check]] over `branchView(name).read()`), then
    * publish with [[fastForward]] — or walk away with [[dropBranch]] and
    * the main table never saw a byte of the bad commit.
    */
  def createBranch(name: String): Unit = {
    requireMain("createBranch")
    val p = branchPtr(name)
    require(!fs.exists(p), s"branch '$name' already exists")
    fs.mkdirs(branchesDir)
    val head = readText(fs, currentPtr).trim
    writeText(fs, p, head)
    // fork-point record: fastForward refuses to publish over a main that
    // has advanced since this fork (see there)
    writeText(fs, new Path(branchesDir, s"$name.base"), head)
  }

  /** A writable view of this table whose head is the branch. All table
    * operations work unchanged; maintenance that reasons about the whole
    * snapshot store (expiry, orphan removal) stays main-only.
    */
  def branchView(name: String): SnapshotTable = {
    requireMain("branchView")
    require(fs.exists(branchPtr(name)), s"branch '$name' does not exist")
    new SnapshotTable(spark, location, Some(name))
  }

  def listBranches: Seq[String] =
    if (!fs.exists(branchesDir)) Seq.empty
    else fs.listStatus(branchesDir).filter(_.isFile).map(_.getPath.getName)
      // dot-prefixed = publish machinery (the rename-aside fallback's
      // `.<name>.prev`), never a branch
      .filterNot(n => n.endsWith(".base") || n.startsWith(".")).toSeq.sorted

  /** PUBLISH: atomically point `_current` at the branch head (Iceberg
    * `fast_forward`). Metadata-only; readers switch from the old state to
    * the audited one in one pointer swap.
    *
    * Two correctness guards, matching Iceberg's semantics:
    *  - ANCESTRY: publishing is refused if main has advanced since the
    *    fork — a blind swap would silently abandon main commits and the
    *    next main commit would collide with (and overwrite) an abandoned
    *    `v*.json` manifest, corrupting time travel. Rebase = fork a new
    *    branch from the current main and re-apply.
    *  - NORMALIZATION: the published head is re-written under its
    *    main-line `v*.json` name, so every version-addressed API
    *    (readAt, rollbackTo, createTag, changesBetween) resolves the
    *    published state like any other main commit. Intermediate branch
    *    commits keep their branch-prefixed names (branch-local history).
    *
    * The branch's fork point advances to the published head, so the same
    * branch can keep the fork→audit→publish cycle going.
    *
    * SINGLE WRITER REQUIRED (as everywhere on this table — see the class
    * doc): the ancestry check and the pointer rename are not one atomic
    * step, so a concurrent main commit landing between them would be
    * silently abandoned and the normalization write could collide. Run
    * publishes from the same single writer that owns main commits; a
    * multi-writer deployment needs the pointer in a catalog service with
    * compare-and-swap.
    */
  def fastForward(name: String): Snapshot = {
    requireMain("fastForward")
    val p = branchPtr(name)
    require(fs.exists(p), s"branch '$name' does not exist")
    val basePath = new Path(branchesDir, s"$name.base")
    val forkPoint = if (fs.exists(basePath)) readText(fs, basePath).trim else ""
    val mainHead = readText(fs, currentPtr).trim
    require(forkPoint == mainHead,
      s"cannot fast-forward '$name': main advanced since the fork " +
        s"(forked at '$forkPoint', main is at '$mainHead'); fork a fresh branch and re-apply")
    val headName = readText(fs, p).trim
    val snap = readSnapshot(new Path(snapshotsDir, headName))
    val mainName = snapshotFileName(snap.version)
    if (headName != mainName) {
      val mainManifest = new Path(snapshotsDir, mainName)
      require(!fs.exists(mainManifest),
        s"cannot publish '$name': main-line manifest $mainName already exists")
      writeText(fs, mainManifest, toJson(snap))
    }
    val tmp = new Path(dir, s"_current.tmp.${UUID.randomUUID()}")
    writeText(fs, tmp, mainName)
    AtomicRename.overwrite(fs, spark.sparkContext.hadoopConfiguration, tmp, currentPtr)
    // re-anchor the branch on the published state for the next cycle
    writeText(fs, p, mainName)
    writeText(fs, basePath, mainName)
    currentSnapshot
  }

  /** Drop a branch pointer. Its unpublished snapshots stay on disk until
    * [[expireSnapshots]] ages them out (and their unreferenced data files
    * until [[removeOrphanFiles]]) — the same retirement path as main-line
    * history, no special-case deletion.
    */
  def dropBranch(name: String): Unit = {
    requireMain("dropBranch")
    val p = branchPtr(name)
    require(fs.exists(p), s"branch '$name' does not exist")
    fs.delete(p, false)
    fs.delete(new Path(branchesDir, s"$name.base"), false)
  }

  /** remove_orphan_files(olderThan): delete data files referenced by NO
    * remaining snapshot — `docs/crd.md:161-170`.
    */
  def removeOrphanFiles(olderThanMs: Long): Seq[String] = {
    requireMain("removeOrphanFiles")
    // live = referenced by ANY retained snapshot manifest — main-line
    // AND branch (b-*.json) alike; expiry is what retires manifests
    val live: Set[String] =
      (if (!fs.exists(snapshotsDir)) Seq.empty[Snapshot]
       else fs.listStatus(snapshotsDir)
         .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
         .map(st => readSnapshot(st.getPath)).toSeq)
        .flatMap(s => s.files.map(_.path) ++ s.deletes.map(_.path))
        .toSet
    if (!fs.exists(dataDir)) return Seq.empty
    val it = fs.listFiles(dataDir, true)
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = relativize(st.getPath)
      if (st.isFile && !live.contains(rel) && st.getModificationTime < olderThanMs) {
        fs.delete(st.getPath, false)
        removed += rel
      }
    }
    removed.toSeq
  }

  /** ANALYZE: row count plus, for each requested column, min / max /
    * null_count / approximate NDV (HyperLogLog++) into snapshot properties —
    * the reference's `ANALYZE ... WITH (columns = includedColumns)` surface
    * (`docs/crd.md:142-148`). All stats come from ONE aggregation pass over
    * the table (each stat is an agg column with map-side partial combine),
    * not a per-column rescan — at 100 TB this is a single scan regardless of
    * how many columns are analyzed. Unknown column names are ignored, like
    * ANALYZE on a dropped column.
    */
  def analyze(includedColumns: Seq[String] = Seq.empty): Snapshot = {
    val df = read()
    val cols = includedColumns.filter(df.columns.contains)
    val aggs = count(lit(1)).as("_cnt") +: cols.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c"),
        approx_count_distinct(col(c)).as(s"_ndv_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val colStats = cols.flatMap { c =>
      Seq(
        s"stats.col.$c.min" -> Option(row.getAs[String](s"_min_$c")).getOrElse("null"),
        s"stats.col.$c.max" -> Option(row.getAs[String](s"_max_$c")).getOrElse("null"),
        s"stats.col.$c.null_count" -> row.getAs[Long](s"_nulls_$c").toString,
        s"stats.col.$c.ndv" -> row.getAs[Long](s"_ndv_$c").toString)
    }
    setProperties(Map(
      "stats.row_count" -> row.getAs[Long]("_cnt").toString,
      "stats.analyzed_at_ms" -> now().toString) ++ colStats)
  }

  /** Export the CURRENT snapshot for external engines — the feasible-offline
    * answer to the reference's biggest interop property (its targets are
    * Iceberg tables any engine reads — `/root/reference/src/main/scala/
    * main.scala:26,111`). Two artifacts under `exportDir`:
    *
    *   - `manifest`: one absolute data-file URI per line — the Hive
    *     symlink-manifest convention (`SymlinkTextInputFormat`), consumable
    *     by Trino/Hive/Spark on any filesystem, and the only scale-correct
    *     artifact (a metadata-only listing; no data moves). `schema.json`
    *     carries the snapshot schema for readers that want it.
    *   - `data/`: a flat directory of symlinks (copy fallback for
    *     filesystems without link support) to exactly the live files, so
    *     glob-based readers (DuckDB `read_parquet` over the export dir)
    *     see the snapshot without symlink-manifest support. Dead files from
    *     superseded snapshots remain under the table's own `data/` until
    *     expiry, so globbing THAT directory is wrong — the export dir is
    *     the glob-safe view.
    *
    * Metadata-only (O(files), zero data scan); re-export after each commit
    * for an always-current external view. Returns the manifest entries.
    *
    * ATOMIC publish: the export is built in a versioned sibling directory
    * and `exportDir` itself is an atomically-swapped symlink to it, so an
    * external reader racing a streamed commit always sees a complete export
    * (old or new), never a missing/partial one — and the superseded version
    * survives one more publish (see [[publishExport]]) so a reader that
    * resolved the old target mid-listing finishes too. On filesystems
    * without symlink support the publish falls back to delete+rename (a
    * short non-atomic window — the POSIX path has none).
    */
  def exportSymlinkManifest(exportDir: String): Seq[String] = {
    val snap = currentSnapshot
    // PERMANENT CONTRACT (decided r17; README "Symlink-manifest export
    // contract"): this leg is COPY-ON-WRITE ONLY. A symlink-manifest
    // reader sees raw data files and cannot apply equality deletes —
    // exporting a merge-on-read table before maintenance would hand
    // external engines resurrected rows. Uncompacted MoR tables export
    // via the Iceberg leg (equality-delete manifests) or the Delta leg
    // (deletion vectors); this leg resumes after compact(). Refusal
    // message + recovery are spec-pinned.
    require(snap.deletes.isEmpty,
      "table has outstanding equality deletes (merge-on-read commits); " +
        "run compact() to absorb them before exporting a symlink manifest")
    // Idempotence fast path (same shape as exportIceberg's): a
    // maintenance run whose compaction was a no-op re-exports the SAME
    // table version — skip the O(live files) rebuild entirely. The
    // version marker lives inside the versioned dir, resolved through the
    // published symlink, so it always describes the export a reader sees.
    val abs = snap.files.map(f => fs.makeQualified(new Path(dataDir, f.path)).toString)
    val publishedVersion = new Path(new Path(exportDir), "table_version")
    try {
      if (fs.exists(publishedVersion) &&
          readText(fs, publishedVersion).trim == snap.version.toString)
        return abs
    } catch { case scala.util.control.NonFatal(_) => () } // unreadable marker → rebuild
    val versioned = new Path(s"$exportDir.v${System.nanoTime()}")
    fs.delete(versioned, true)
    fs.mkdirs(versioned)
    writeText(fs, new Path(versioned, "manifest"), if (abs.isEmpty) "" else abs.mkString("\n") + "\n")
    writeText(fs, new Path(versioned, "schema.json"), snap.schema.json)
    writeText(fs, new Path(versioned, "table_version"), snap.version.toString)
    val dataOut = new Path(versioned, "data")
    // The glob-safe linked data directory is a LOCAL-filesystem convenience
    // (symlinks). On remote stores (HDFS/ABFS/S3) every "link" would fall
    // back to a full byte copy of every live data file — re-exporting after
    // each commit would then amplify a T-byte table into T bytes of copy
    // per trigger. There the manifest (absolute URIs) IS the export — the
    // actual Hive symlink-manifest contract — and the data dir is skipped.
    val localFs = fs.getUri.getScheme == "file"
    if (localFs) {
      fs.mkdirs(dataOut)
      val ext = SnapshotTable.resolveFormat(snap.properties)
      snap.files.zipWithIndex.foreach { case (f, i) =>
        val src = fs.makeQualified(new Path(dataDir, f.path))
        val dst = fs.makeQualified(new Path(dataOut, f"part-$i%05d-b${f.bucket}.$ext"))
        try
          java.nio.file.Files.createSymbolicLink(
            java.nio.file.Paths.get(dst.toUri), java.nio.file.Paths.get(src.toUri))
        catch { case _: Exception => // non-POSIX local FS → materialize
          org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
            spark.sparkContext.hadoopConfiguration)
        }
      }
    }
    writeText(fs, new Path(versioned, "_SUCCESS"), "")
    publishExport(exportDir, versioned)
    abs
  }

  /** Export the CURRENT snapshot as an Apache Iceberg format-version-2
    * table ([[IcebergExport]]): `metadata/` with version-hint,
    * metadata.json, manifest list and manifest Avro files referencing the
    * live data files by absolute URI — metadata-only, with row counts and
    * byte sizes read from the SNAPSHOT MANIFEST (recorded at write time,
    * [[DataFile.rows]]/[[DataFile.bytes]]), so a per-commit export does
    * ZERO per-file IO for carried files (O(new files), zero data copies)
    * and is re-runnable after every commit at any table size — wiring it
    * per streamed micro-batch is safe at 100 TB. Any Iceberg reader
    * (Spark+runtime, Trino, DuckDB iceberg, pyiceberg) sees exactly the
    * live snapshot; dead files are simply unreferenced.
    *
    * Parquet and ORC tables (both are Iceberg data-file formats with
    * footer row counts; avro files carry no footer metadata here).
    * Unlike [[exportSymlinkManifest]], outstanding equality deletes need
    * NO compaction first: merge-on-read commits export their delete files
    * as an Iceberg v2 content=1 manifest (`equality_ids` = the merge-key
    * field id, per-file sequence numbers), which v2 readers merge
    * natively — a continuously-MoR-merging stream can export per commit.
    *
    * COORDINATION with table maintenance: exported history snapshots
    * reference the table's data files by URI, so time travel through the
    * export is valid exactly as far as the table's own retention keeps
    * those files — [[removeOrphanFiles]] deletes files unreferenced by
    * RETAINED table snapshots, so keep `snapshotRetentionMs` at least as
    * long as the export's [[IcebergExport.KeepSnapshots]]-commit window
    * (the same contract Iceberg's own expire_snapshots imposes on its
    * time travel: expiry invalidates travel to expired snapshots). The
    * export HEAD always references live files and survives any
    * maintenance.
    *
    * Returns the metadata.json path.
    */
  def exportIceberg(exportDir: String): Path = {
    val snap = currentSnapshot
    val format = SnapshotTable.resolveFormat(snap.properties)
    require(format == "parquet" || format == "orc",
      "Iceberg export supports parquet/orc tables (the spec's data-file formats " +
        "with footer row counts; avro data files carry no footer metadata here)")
    val out = new Path(exportDir)
    // idempotence fast path: this table version already published → skip
    // the per-file footer reads entirely (a per-commit exporter calls
    // this unconditionally)
    if (IcebergExport.currentExportedSnapshotId(fs, out).contains(snap.version + 1))
      return new Path(new Path(out, "metadata"),
        s"v${IcebergExport.readVersionHint(fs, out)}.metadata.json")
    val conf = spark.sparkContext.hadoopConfiguration
    // Row counts and byte sizes come from the snapshot manifest (recorded
    // at write time), so a per-commit export costs ZERO per-file IO for
    // carried files — genuinely O(new files). Only legacy manifest entries
    // (rows/bytes = −1, written before the fields existed) fall back to a
    // footer / file-status read.
    val files = snap.files.map { f =>
      val p = fs.makeQualified(new Path(dataDir, f.path))
      val rows =
        if (f.rows >= 0L) f.rows
        else if (format == "orc") FileStats.orcRowCount(conf, p)
        else FileStats.parquetRowCount(conf, p)
      val len = if (f.bytes >= 0L) f.bytes else fs.getFileStatus(p).getLen
      // per-column (min, max) from the manifest skipping index rides into
      // the Iceberg lower_bounds/upper_bounds maps — external readers
      // prune files the same way readRange does
      IcebergExport.ExportFile(p.toString, len, rows, f.seq, f.stats, f.bucket)
    }
    // Publish the bucket layout as the Iceberg partition spec ONLY when
    // files are physically placed by the spec's own transform
    // ([[BucketFnIceberg]]) — over an xxhash64 layout the published spec
    // would be a lie and external readers would prune to the WRONG files.
    // Adopted files (bucket −1) ride in an unpartitioned spec-0 manifest
    // either way; the null-key bucket (id == numBuckets) publishes a
    // null partition tuple, matching the spec's null-transform rule.
    val bucketSpec =
      if (SnapshotTable.bucketFnOf(snap.properties) == SnapshotTable.BucketFnIceberg)
        Some(IcebergExport.BucketSpec(keyColForBucketing(snap), snap.numBuckets))
      else None
    // Outstanding merge-on-read equality deletes ride along as content=1
    // delete files (always parquet — writeDeletes); same manifest-sourced
    // rows/bytes with a legacy footer fallback.
    val deletes = snap.deletes.map { d =>
      val p = fs.makeQualified(new Path(dataDir, d.path))
      val rows = if (d.rows >= 0L) d.rows else FileStats.parquetRowCount(conf, p)
      val len = if (d.bytes >= 0L) d.bytes else fs.getFileStatus(p).getLen
      IcebergExport.ExportDeleteFile(p.toString, len, rows, d.seq, d.bucket)
    }
    IcebergExport.write(fs, out, snap.schema, snap.version,
      snap.timestampMs, files, snap.properties, fileFormat = format.toUpperCase,
      deletes = deletes, equalityDeleteColumn = Some(keyColForBucketing(snap)),
      bucketSpec = bucketSpec)
  }

  /** Export the current snapshot as a Delta Lake transaction log (the
    * second open-format interop leg next to [[exportIceberg]]; see
    * [[DeltaExport]] for the protocol details). Metadata-only and
    * incremental — each engine commit appends ONE `_delta_log` entry
    * holding just the add/remove diff, with row counts / byte sizes from
    * the snapshot manifest, so per-commit wiring costs O(new files) at
    * any table size. Idempotent per engine snapshot.
    *
    * Loud constraints: parquet tables only (Delta data files are parquet
    * by protocol). Outstanding merge-on-read equality deletes export as
    * protocol DELETION VECTORS (position-ized below — reader v3 /
    * writer v7), so an uncompacted MoR stream exports on BOTH interop
    * legs without a forced compaction.
    */
  def exportDelta(exportDir: String,
      // delete-KEY broadcast bound for MoR position-izing; the pipeline
      // passes StreamSpec.deleteBroadcastMaxRows so a small-driver
      // deployment tunes it without recompiling
      deleteBroadcastMaxRows: Long = 2000000L): Path = {
    val snap = currentSnapshot
    val format = SnapshotTable.resolveFormat(snap.properties)
    require(format == "parquet",
      s"Delta export requires a parquet table (protocol data-file format), got $format")
    val out = new Path(exportDir)
    // ONE replay of the exported log serves both the idempotence fast
    // path (a no-op re-export must not pay O(live files) footer IO just
    // to learn nothing changed — the exportIceberg fast path's
    // reasoning) AND the DV block's prior-descriptor set below; write()
    // keeps its own replay as part of its transactional versioning.
    val (exportedSnapshot, priorDvs) = DeltaExport.headSnapshotAndDvs(fs, out)
    if (exportedSnapshot.contains(snap.version))
      return new Path(new Path(out, "_delta_log"),
        f"${DeltaExport.logVersions(fs, out).last}%020d.json")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = snap.files.map { f =>
      val p = fs.makeQualified(new Path(dataDir, f.path))
      val rows = if (f.rows >= 0L) f.rows else FileStats.parquetRowCount(conf, p)
      val len = if (f.bytes >= 0L) f.bytes else fs.getFileStatus(p).getLen
      DeltaExport.ExportFile(p.toString, len, rows, f.stats, f.bucket)
    }
    // Publish the bucket layout as a Delta partition column only under
    // the Iceberg bucket fn (same truthfulness rule as exportIceberg);
    // requires all buckets known — DeltaExport fails loudly on adopted
    // files under a partitioned layout.
    val bucketSpec =
      if (SnapshotTable.bucketFnOf(snap.properties) == SnapshotTable.BucketFnIceberg)
        Some(DeltaExport.BucketSpec(keyColForBucketing(snap), snap.numBuckets))
      else None
    // Outstanding merge-on-read equality deletes export as protocol
    // DELETION VECTORS (reader v3 / writer v7): the delete keys are
    // POSITION-IZED here — one scan of the affected buckets' candidate
    // files joins the (change-set-sized, broadcast) per-bucket newest
    // delete sequence per key, yielding (file, row_index) pairs bounded
    // by the deleted-row count — so an uncompacted MoR stream exports
    // without rewriting data, like the Iceberg leg's equality manifests.
    // The positions NEVER reach the driver: executors group them by file
    // and write the DV bins ([[DeltaExport.writeDvsDistributed]]); the
    // driver collects only O(DV'd files) descriptors, so a deferred-
    // OPTIMIZE backlog of billions of deletes cannot OOM the driver.
    val dvDescriptors: Map[String, DeltaExport.DvDescriptor] =
      if (snap.deletes.isEmpty) Map.empty
      else {
        val key = keyColForBucketing(snap)
        val keyField = snap.schema.fields.find(_.name.equalsIgnoreCase(key)).getOrElse(
          throw new IllegalStateException(s"merge key column '$key' missing from table schema"))
        val maxDelSeq = snap.deletes.groupBy(_.bucket).view.mapValues(_.map(_.seq).max).toMap
        // adopted files (bucket −1) are exempt by the sequence rule: they
        // enter at a fresh sequence, above every outstanding delete
        val candAll = snap.files.filter(f =>
          f.bucket >= 0 && maxDelSeq.get(f.bucket).exists(_ > f.seq))
        // INCREMENTAL across commits: a bucket whose FILE set and DELETE
        // set (paths + sequences) are both unchanged since the prior
        // export has byte-identical DVs by construction — its candidacy,
        // its per-key newest delete sequence and every position-izing
        // input are functions of exactly those two sets. Such buckets
        // reuse their prior descriptors WITHOUT any candidate-file or
        // delete-file scan; only changed buckets' files are read. The
        // prior engine snapshot is looked up by the export log's own
        // recorded version (one driver-side JSON read); if it has been
        // expired — or the merge key migrated — every bucket degrades to
        // the full position-izing path, which stays exact.
        val priorSnap: Option[Snapshot] = exportedSnapshot.flatMap { v =>
          val p = new Path(snapshotsDir, SnapshotTable.snapshotFileName(v))
          if (fs.exists(p)) Some(readSnapshot(p)) else None
        }
        def bucketState(s: Snapshot, b: Int): (Set[(String, Long)], Set[(String, Long)]) =
          (s.files.collect { case f if f.bucket == b => (f.path, f.seq) }.toSet,
            s.deletes.collect { case d if d.bucket == b => (d.path, d.seq) }.toSet)
        val unchangedBuckets: Set[Int] = priorSnap match {
          case Some(p) if p.numBuckets == snap.numBuckets &&
              keyColForBucketing(p).equalsIgnoreCase(keyColForBucketing(snap)) =>
            candAll.map(_.bucket).toSet
              .filter(b => bucketState(p, b) == bucketState(snap, b))
          case _ => Set.empty
        }
        val reusedDvs: Map[String, DeltaExport.DvDescriptor] = {
          def qualifyR(rel: String) = fs.makeQualified(new Path(dataDir, rel)).toString
          candAll.iterator.filter(f => unchangedBuckets(f.bucket))
            .map(f => qualifyR(f.path))
            .flatMap(u => priorDvs.get(u).map(u -> _))
            .toMap
        }
        SnapshotTable.lastDvExportSkippedBuckets = unchangedBuckets.size.toLong
        val cand = candAll.filterNot(f => unchangedBuckets(f.bucket))
        if (cand.isEmpty) { SnapshotTable.lastDvExportDriverRows = 0L; reusedDvs }
        else {
          import org.apache.spark.sql.functions.{broadcast, max => smax}
          def qualify(rel: String) = fs.makeQualified(new Path(dataDir, rel)).toString
          // delete files under the PINNED single-column key schema (the
          // engine's own delete read above) — an inferred schema could
          // flip or fail across a key-type-widening migration's mixed
          // files. ONE scan of all delete files, each row's (bucket, seq)
          // attached from the file list by [[LiveScan.scan]] — a per-file
          // scan union planned one codegen'd node per delete file, which
          // dominated the gate at 64 outstanding delete files and would be
          // pathological on a deferred-OPTIMIZE backlog.
          // only CHANGED buckets' delete files are opened — unchanged
          // buckets were satisfied above from reused descriptors, and a
          // bucket with no candidate files has nothing to position-ize
          val candBuckets = cand.map(_.bucket).toSet
          val delScan = snap.deletes.filter(d => candBuckets(d.bucket))
          val delDf = LiveScan.scan(spark, Some(StructType(Seq(keyField.copy(nullable = true)))),
              delScan.map(d =>
                ScanFile(qualify(d.path), d.bytes, d.seq, tuple = Seq(Some(d.bucket.toString)))),
              attach = true, tupleCols = Seq("_db"))
            .groupBy(col(keyField.name).as("_dk"), col("_db__str").cast("int").as("_db"))
            .agg(smax("_gseq").as("_ds"))
          // The delete-key side broadcasts only while the manifest's own
          // row counts say it is change-set-sized — a deferred-OPTIMIZE
          // backlog of hundreds of millions of distinct tombstoned keys
          // would otherwise materialize on the driver inside the
          // BroadcastExchange (the same bound class as the DV positions
          // themselves); past the bound the join degrades LOUDLY to a
          // shuffle (still exact; compaction clears the backlog).
          // rows = -1 marks a legacy manifest entry with an UNKNOWN count;
          // counting it as zero could broadcast-materialize an arbitrarily
          // large legacy backlog on the driver — the exact OOM this bound
          // prevents — so any unknown forces the (exact, loud) shuffle path.
          val rowsKnown = delScan.forall(_.rows >= 0L)
          val totalDelRows = delScan.map(d => math.max(d.rows, 0L)).sum
          val delSmall = rowsKnown && totalDelRows <= deleteBroadcastMaxRows
          if (!delSmall) System.err.println(
            s"DELTA EXPORT: $totalDelRows outstanding delete rows exceed the broadcast " +
              "bound — position-izing via a shuffle join (compact to clear the backlog)")
          def hintDel(df: DataFrame): DataFrame = if (delSmall) broadcast(df) else df
          // candidate files under the snapshot schema, with each row's
          // position, bucket, sequence and DV-map uri
          val hit = LiveScan.scan(spark, Some(snap.schema),
              cand.map(f => ScanFile(qualify(f.path), f.bytes, f.seq,
                tuple = Seq(Some(f.bucket.toString), Some(qualify(f.path))))),
              attach = true, rowIndex = true, tupleCols = Seq("_b", "_uri"))
            // NULL-SAFE key equality (the merge/delete-read semantics of
            // [[LiveScan]]): NULL is a supported merge key, and === here
            // would silently resurrect NULL-keyed tombstoned rows in every
            // external Delta reader
            .join(hintDel(delDf), col(keyField.name) <=> col("_dk") &&
              col("_b__str").cast("int") === col("_db") && col("_ds") > col("_gseq"))
            .select(col("_uri__str").as("_uri"), col("_gpos").as("_pos"))
          val dvs = DeltaExport.writeDvsDistributed(spark, hit, priorDvs,
            new Path(out, "deletion_vectors"), snap.version)
          SnapshotTable.lastDvExportDriverRows = dvs.size.toLong
          reusedDvs ++ dvs
        }
      }
    // write() replays from the newest spec checkpoint (driver-side parquet
    // read) — the per-commit cost stays bounded regardless of log length
    DeltaExport.write(fs, out, snap.schema, snap.version, snap.timestampMs, files,
      snap.properties, spark = Some(spark), bucketSpec = bucketSpec,
      dvs = dvDescriptors)
  }

  /** Adopt the LIVE files of an external Delta Lake table — its
    * `_delta_log` replayed at `at` (None = head) — into this table:
    * the inbound counterpart of [[exportDelta]], so migration FROM a
    * Delta writer into the engine is metadata-only, no data rewrite
    * (this IS [[adoptFiles]] under a log-replayed file list, with all of
    * its schema/key checks and pruning-safe stats collection).
    */
  def adoptDeltaTable(deltaDir: String, at: Option[Long] = None): Snapshot = {
    val files = DeltaExport.readFiles(fs, new Path(deltaDir), at)
    require(files.nonEmpty, s"delta table at $deltaDir has no live files")
    adoptFiles(files.map(_._1))
  }

  /** Atomically point `exportDir` at the freshly-built `versioned` dir:
    * a temp symlink is renamed over the old one (POSIX rename-over-symlink
    * is atomic). The immediately superseded version is RETAINED — a reader
    * that resolved the old target just before the swap (e.g. listed
    * `exportDir/data`) can finish against an intact directory; only
    * versions older than that (N-2 and earlier) are removed, so disk usage
    * is bounded at two live exports. Legacy real-directory layouts (or
    * symlink-less filesystems) fall back to delete+rename.
    */
  private def publishExport(exportDir: String, versioned: Path): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val outUri = fs.makeQualified(new Path(exportDir)).toUri
    val verUri = fs.makeQualified(versioned).toUri
    try {
      val outNio = Paths.get(outUri)
      val prevTarget =
        if (Files.isSymbolicLink(outNio)) Some(Files.readSymbolicLink(outNio)) else None
      if (prevTarget.isEmpty) fs.delete(new Path(exportDir), true) // legacy plain dir (one-time)
      val swp = Paths.get(outUri.getPath + ".swp")
      Files.deleteIfExists(swp)
      Files.createSymbolicLink(swp, Paths.get(verUri))
      Files.move(swp, outNio, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // Grace retention: keep the new target AND the one it replaced; every
      // older `<exportDir>.v*` sibling is now at least two publishes stale
      // and safe to drop (no single-syscall-reader assumption needed).
      val keep = Set(new Path(verUri).getName) ++
        prevTarget.map(p => Paths.get(p.toString).getFileName.toString)
      val exportPath = fs.makeQualified(new Path(exportDir))
      val prefix = exportPath.getName + ".v"
      val parent = exportPath.getParent
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(prefix) && !keep.contains(n)) fs.delete(st.getPath, true)
        }
    } catch { case _: Exception => // symlink-less FS: short-window fallback
      fs.delete(new Path(exportDir), true)
      fs.rename(versioned, new Path(exportDir))
    }
  }

  // -------------------------------------------------------------- internals

  private def keyColForBucketing(snap: Snapshot): String =
    snap.properties.getOrElse(PropMergeKeyCol, graft.ops.MergeKey.ColumnName)

  private def fileLen(f: DataFile): Long =
    if (f.bytes >= 0L) f.bytes
    else fs.getFileStatus(new Path(dataDir, f.path)).getLen

  private def relativize(p: Path): String = {
    val base = fs.makeQualified(dataDir).toString + "/"
    val full = fs.makeQualified(p).toString
    require(full.startsWith(base), s"$full not under $base")
    full.substring(base.length)
  }

  /** Step one of every bucketed write: `df`'s rows of `targetBuckets` (all
    * buckets when None) with their bucket id `gbk`, hash-partitioned by it
    * — the write's one exchange — and the order [[writePartitions]] sorts
    * each partition into. A caller may put any plan that keeps the
    * partitioning between the two steps ([[merge]] takes its argmax there).
    */
  private def partitionByBucket(
      df: DataFrame,
      mergeKeyCol: String,
      n: Int,
      targetBuckets: Option[Set[Int]],
      // no default: the bucket fn rides in props (PropBucketFn), and a
      // caller silently writing under the wrong hash would corrupt
      // bucket-pruned reads — every caller must pass the table's props
      props: Map[String, String]
  ): (DataFrame, Seq[Column]) = {
    val withB = df.withColumn("gbk", bucketExpr(mergeKeyCol, n, SnapshotTable.bucketFnOf(props)))
    val filtered = targetBuckets match {
      case Some(bs) => withB.where(col("gbk").isin(bs.toSeq.map(Integer.valueOf): _*))
      case None     => withB
    }
    // repartition by _b so each output task writes few bucket dirs (avoids
    // the many-small-files explosion of unpartitioned writes at scale).
    // MEASURED ALTERNATIVE (r21, rejected): a REBALANCE exchange — AQE
    // then coalesces a small commit's write to ~1 task, but a write
    // task's cost is dominated by per-FILE writer init + per-dir sort
    // switches, which AQE's byte-based coalescing cannot see: one task
    // serially opening all ~n bucket writers regressed the copy-on-write
    // gates ~0.5-0.8 s each. The fixed fan-out below is already
    // scale-bounded both ways (≤ touched buckets, ≤ 2× parallelism).
    val parts = targetBuckets.map(_.size).getOrElse(n).max(1)
    val partitioned = filtered.repartition(math.min(parts, maxWriteTasks), col("gbk"))
    // Write-time data layout (reference CREATE TABLE `sortedBy` +
    // `parquetBloomFilterColumns`, CRD beta:294-318 / docs/crd.md:203-232):
    // sort rows within each task for min/max-skippable files, and enable
    // parquet bloom filters on the configured columns. A z-order layout
    // (set by [[zorder]], persisted in properties so every later rewrite
    // keeps it) takes precedence over the linear sort order: rows sort by
    // the Morton interleave of the layout columns, clustering file and
    // row-group min/max stats on ALL of them at once. Its normalisation
    // pass runs over the rows before the exchange.
    val layout = props.get(PropZOrderColumns).filter(_.nonEmpty) match {
      case Some(zc) => Seq(ZOrder.zvalue(filtered, zc.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      case None => props.get(PropSortOrder).filter(_.nonEmpty).toSeq
        .flatMap(_.split(",").map(c => col(c.trim)))
    }
    (partitioned, layout)
  }

  /** Step two: sort each partition of `byBucket` (from [[partitionByBucket]])
    * into its layout, write it under data/<commitId>/gbk=<k>/ and return
    * the new DataFile entries with their footer stats. With `coalesceOne`
    * each bucket lands in exactly one file (compaction), else Spark's task
    * parallelism decides within the bucket directory.
    */
  private def writePartitions(
      byBucket: (DataFrame, Seq[Column]),
      commitId: String,
      coalesceOne: Boolean = false,
      props: Map[String, String],
      seq: Long = 0L
  ): Seq[DataFile] = {
    val (partitioned, layout) = byBucket
    val out = new Path(dataDir, commitId)
    val arranged =
      if (layout.isEmpty) partitioned else partitioned.sortWithinPartitions(col("gbk") +: layout: _*)
    val format = SnapshotTable.resolveFormat(props)
    val writer = arranged.write.partitionBy("gbk").mode("append")
    val bloomCols = props.get(PropBloomColumns).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    format match {
      case "orc" =>
        if (bloomCols.nonEmpty) writer.option("orc.bloom.filter.columns", bloomCols.mkString(","))
      case "avro" => // no per-column bloom filter support in the Avro format
      case _ =>
        bloomCols.foreach(c => writer.option(s"parquet.bloom.filter.enabled#$c", "true"))
    }
    // Reference `maxRowsPerFile` (CRD beta sink.maxRowsPerFile): cap file
    // size at write time so one hot bucket still produces scan-parallel
    // files. COMPACTION (coalesceOne) deliberately ignores the cap — its
    // whole purpose is consolidating a bucket into one file, and honoring
    // the cap there would re-split every rewrite and never converge.
    if (!coalesceOne)
      props.get(PropMaxRowsPerFile).filter(_.nonEmpty)
        .foreach(nr => writer.option("maxRecordsPerFile", nr))
    ph("wb:write job")(format match {
      case "orc"  => writer.orc(out.toString)
      case "avro" => writer.format(SnapshotTable.AvroFormatClass).save(out.toString)
      case _      => writer.parquet(out.toString)
    })

    if (!fs.exists(out)) return Seq.empty
    // Manifest metadata for each NEW file, collected ONCE here — footer
    // min/max for the configured skipping-index columns plus the footer
    // row count (one footer open covers both for parquet), and the byte
    // length straight from the listing. O(new files) metadata IO, no data
    // pages; carried-forward files keep their existing entries, so later
    // metadata consumers (exportIceberg, compaction sizing) never re-open
    // files a commit merely carries. Avro files carry no footer row count
    // (rows = −1, and Iceberg export rejects avro tables up front).
    val statsCols = props.get(PropStatsColumns).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val conf = spark.sparkContext.hadoopConfiguration
    def metaFor(p: Path): (Map[String, (Double, Double)], Long) = format match {
      case "parquet" => FileStats.parquetMinMaxAndCount(conf, p, statsCols, partitioned.schema)
      case "orc"     => (Map.empty, FileStats.orcRowCount(conf, p))
      case _         => (Map.empty, -1L)
    }
    ph("wb:footer stats") {
      val entries = fs.listStatus(out)
        .filter(_.isDirectory)
        .flatMap { bdir =>
          val b = bdir.getPath.getName.stripPrefix("gbk=").toInt
          fs.listStatus(bdir.getPath)
            .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
            .map(st => (b, bdir.getPath.getName, st))
        }
        .toSeq
      // footer min/max+count in parallel — each open is independent,
      // serial driver IO over O(new files) footers was pure added latency
      SnapshotTable.parallelFooterIo(entries) { case (b, bdirName, st) =>
        val (stats, rows) = metaFor(st.getPath)
        DataFile(s"$commitId/$bdirName/${st.getPath.getName}", b,
          stats, seq, rows, st.getLen)
      }
    }
  }

  private def maxWriteTasks: Int = spark.sparkContext.defaultParallelism * 2

  // Read-modify-write under the SINGLE-WRITER assumption (class doc): the
  // rename makes the pointer swap atomic for READERS, but two concurrent
  // writers would still last-write-win on `_current`. Multi-writer needs a
  // catalog service with compare-and-swap on the pointer.
  private def commit(snap: Snapshot): Snapshot = {
    fs.mkdirs(snapshotsDir)
    val name = commitFileName(snap.version)
    writeText(fs, new Path(snapshotsDir, name), toJson(snap))
    // Atomic pointer swap: write sibling temp, rename over _current.
    val tmp = new Path(dir, s"_current.tmp.${UUID.randomUUID()}")
    writeText(fs, tmp, name)
    AtomicRename.overwrite(fs, spark.sparkContext.hadoopConfiguration, tmp, currentPtr)
    snap
  }

  private def now(): Long = System.currentTimeMillis()
}

object SnapshotTable {
  /** Manifest bucket id of adopted (externally written, unbucketed) files
    * — see [[SnapshotTable.adoptFiles]].
    */
  val AdoptedBucket: Int = -1

  /** Bounded daemon pool for per-file FOOTER metadata reads (manifest
    * stats, delete-file row counts): the opens are independent, O(new
    * files) per commit, and a few ms each — running them serially on the
    * driver added latency linear in the commit's file count. 16 threads
    * caps the concurrent open-file/connection count (object-store
    * friendly) regardless of commit size.
    */
  private val footerIoPool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-footer-io")
      t.setDaemon(true)
      t
    })
  private val footerIoEc = scala.concurrent.ExecutionContext.fromExecutor(footerIoPool)

  /** Run independent Spark actions concurrently and return their results
    * in order. Every action but the last runs on a FRESH thread so it
    * inherits the caller's InheritableThreadLocal Spark properties (job
    * group/description — a shared pool would freeze its first caller's);
    * the last runs on the calling thread. Each action's jobs carry their
    * own job tag, and the first failure cancels the other actions' jobs
    * (tags, not a job group: the caller's group stays set). Every action
    * is joined before this returns or throws. The first failure in
    * argument order is rethrown with the others suppressed — skipping
    * Spark failures of actions a sibling's failure had already cancelled,
    * so the cause surfaces rather than its cancellation.
    */
  private[graft] def allConcurrently[A](actions: Seq[() => A]): Seq[A] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tags = actions.indices.map(i => s"graft-concurrent-${UUID.randomUUID()}-$i")
    val canceller = new java.util.concurrent.atomic.AtomicInteger(-1)
    def cancelOthers(): Unit = canceller.get match {
      case -1 => ()
      case i  => sc.foreach(c => tags.patch(i, Nil, 1).foreach(c.cancelJobsWithTag))
    }
    // Left((error, whether it followed a sibling's cancellation of this action))
    def attempt(i: Int): Either[(Throwable, Boolean), A] = {
      sc.foreach(_.addJobTag(tags(i)))
      try Right(actions(i)())
      catch {
        case e: Throwable =>
          if (canceller.compareAndSet(-1, i)) cancelOthers()
          Left((e, canceller.get != i &&
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[SparkException])))
      } finally sc.foreach(_.removeJobTag(tags(i)))
    }
    val forked = actions.indices.dropRight(1).map { i =>
      val r = new java.util.concurrent.atomic.AtomicReference[Either[(Throwable, Boolean), A]]()
      val t = new Thread(() => r.set(attempt(i)), "graft-concurrent-action")
      t.setDaemon(true)
      t.start()
      (t, r)
    }
    val last = actions.indices.lastOption.map(attempt)
    // a sibling may submit a job after the cancel went out (a cancel only
    // reaches active jobs), so it repeats until every action has ended
    forked.foreach { case (t, _) => while ({ t.join(50); t.isAlive }) cancelOthers() }
    val results = forked.map(_._2.get()) ++ last
    results.collect { case Left(e) => e } match {
      case Seq() => results.collect { case Right(x) => x }
      case errors =>
        val first = errors.find(!_._2).getOrElse(errors.head)._1
        errors.foreach { case (e, _) => if (e ne first) first.addSuppressed(e) }
        throw first
    }
  }

  /** Two independent actions: `a` on a fresh thread, `b` on this one. */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = allConcurrently[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  private[tables] def parallelFooterIo[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = footerIoEc
      Await.result(Future.traverse(xs)(a => Future(f(a))), Duration.Inf)
    }

  /** Test-visible observability of the last DV export's DRIVER-side
    * materialization: the row count [[SnapshotTable.exportDelta]]'s only
    * collect brought back — descriptor rows, one per DV'd file, NEVER
    * positions. DeltaDvSpec's many-files/many-deletes case pins the
    * O(files)-not-O(deleted-rows) driver bound with it.
    */
  @volatile private[graft] var lastDvExportDriverRows: Long = -1L

  /** Test-visible observability of the last DV export's INCREMENTAL skip:
    * how many DV-affected buckets reused their prior descriptors without
    * any candidate-file or delete-file scan (file set + delete set
    * unchanged since the prior export). The counting-FS spec pins that
    * skipped buckets' files are never opened.
    */
  @volatile private[graft] var lastDvExportSkippedBuckets: Long = -1L

  /** Table property versioning the bucket-assignment hash — see
    * [[SnapshotTable.bucketExpr]]. New tables get [[BucketFnIceberg]]
    * (spec-exact `bucket[N]`, so exports publish the partition spec and
    * external point lookups prune to one bucket); manifests written
    * before the property existed parse to [[BucketFnXxhash]] and keep
    * pruning under the hash their files were placed by, with exports
    * keeping an empty spec for them.
    */
  val PropBucketFn = "write.bucket.fn"
  val BucketFnXxhash = "xxhash64"
  val BucketFnIceberg = "iceberg"

  def bucketFnOf(props: Map[String, String]): String =
    props.getOrElse(PropBucketFn, BucketFnXxhash)

  /** THE bucket-assignment column — every bucket computation (table
    * writes, pruned reads, AND caller-side fused aggregations like the
    * CDC pipeline's affected-bucket fast path) must come from here: a
    * caller hashing with its own expression under the wrong fn computes
    * wrong affected buckets, and merge's targetBuckets filter then
    * silently DROPS the staged rows outside them. The session must have
    * the engine functions registered
    * ([[graft.sql.GraftExtensions.ensureRegistered]]).
    */
  def bucketColumn(key: org.apache.spark.sql.Column, n: Int, fn: String)
      : org.apache.spark.sql.Column = fn match {
    case BucketFnIceberg =>
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.call_function("iceberg_bucket", key,
          org.apache.spark.sql.functions.lit(n)),
        org.apache.spark.sql.functions.lit(n))
    case BucketFnXxhash =>
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(key),
        org.apache.spark.sql.functions.lit(n)).cast("int")
    case other =>
      throw new IllegalArgumentException(
        s"unknown bucket function '$other' (manifest from a newer engine version?)")
  }

  /** `lo <= field <= hi` as a TYPED-LITERAL predicate so the comparison
    * stays on the BARE column: a cast-wrapped column cannot be translated
    * to a parquet data-source filter, which would forfeit row-group
    * pruning inside the kept files. Integral columns round the bounds
    * INWARD (x >= 4.5 ⇔ x >= 5), which is exact, and CLAMP them to the
    * column type's own range before the literal is built: a caller
    * passing lo/hi outside e.g. Int range (a sentinel like 1e10 for "no
    * upper cap") must not overflow the cast — under ANSI that throws
    * CAST_OVERFLOW, with ANSI off the literal wraps and silently drops
    * matching rows. A bound past the type's max/min is semantically
    * "unbounded on that side", which the clamp expresses exactly; a
    * clamped-empty range matches nothing. Fractional/decimal columns
    * fall back to the double cast (correct, pushdown lost — acceptable:
    * double columns take the fast path, decimals are rare stats columns).
    * Shared by [[SnapshotTable.readRange]] and
    * [[IcebergExport.readTableRange]] so both skip-index consumers apply
    * identical residual semantics.
    */
  private[tables] def rangePredicate(
      field: org.apache.spark.sql.types.StructField, lo: Double, hi: Double): Column = {
    import org.apache.spark.sql.types._
    val column = field.name
    def integralPredicate(typeMin: Long, typeMax: Long) = {
      val lo2 = math.max(if (lo <= typeMin.toDouble) typeMin else math.ceil(lo).toLong, typeMin)
      val hi2 = math.min(if (hi >= typeMax.toDouble) typeMax else math.floor(hi).toLong, typeMax)
      if (lo2 > hi2) lit(false)
      else col(column) >= lit(lo2).cast(field.dataType) && col(column) <= lit(hi2).cast(field.dataType)
    }
    field.dataType match {
      case ByteType    => integralPredicate(Byte.MinValue, Byte.MaxValue)
      case ShortType   => integralPredicate(Short.MinValue, Short.MaxValue)
      case IntegerType => integralPredicate(Int.MinValue, Int.MaxValue)
      case LongType    => integralPredicate(Long.MinValue, Long.MaxValue)
      case DoubleType =>
        col(column) >= lit(lo) && col(column) <= lit(hi)
      case _ =>
        col(column).cast("double") >= lo && col(column).cast("double") <= hi
    }
  }

  val PropMergeKeyCol = "merge.key.column"
  val PropWatermark = "arcane.watermark" // SURVEY.md §2.A15 external watermark mirror
  val PropSortOrder = "write.sort.order"          // comma-separated columns (sortedBy)
  val PropZOrderColumns = "write.zorder.columns"  // comma-separated columns (OPTIMIZE ZORDER BY)
  val PropStatsColumns = "write.stats.columns"    // comma-separated columns (manifest skipping index)
  val PropBloomColumns = "write.bloom.columns"    // comma-separated columns
  val PropMaxRowsPerFile = "write.max.rows.per.file" // sink.maxRowsPerFile
  // Data file format, `parquet` (default), `orc` or `avro` — the full
  // reference CREATE TABLE `format: PARQUET | ORC | AVRO` matrix
  // (CRD beta:294-318). Avro files carry no footer min/max, so the
  // manifest skipping index ([[PropStatsColumns]]) and per-column bloom
  // filters are parquet/orc-only; choose a columnar format for 100 TB
  // analytic targets — avro is for row-oriented interchange.
  val PropFormat = "write.format"

  /** The environment ships Spark's bundled Avro FileFormat class but not
    * the external module's DataSource registration (the `avro` short name
    * fails lookup) — address the V1 FileFormat by class name instead.
    */
  val AvroFormatClass = "org.apache.spark.sql.avro.AvroFileFormat"

  // Internal helper column names used by the bucketed write (`gbk`), the
  // merge's union+argmax (`_del`/`_pri`), merge-on-read's decision join
  // (`_k`/`_v`/`_d`/`_row`/`_tk`/`_tv`/`_texists`/`_kill`/`_upsert`) and
  // the delete-applying read (`_gseq`/`_gpath`/`_gentry`/`_dkey`/`_dseq`). A
  // same-named USER column would be silently overwritten and lost in every
  // merged row — reject loudly up front instead (reserved-name collisions
  // are schema bugs).
  private val ReservedColumns = Set("gbk", "_del", "_pri",
    "_k", "_v", "_d", "_row", "_tk", "_tv", "_texists", "_kill", "_upsert",
    "_gseq", "_gpath", "_gentry", "_dkey", "_dseq", "_fp", "_tp")

  private[tables] def rejectReservedColumns(schema: org.apache.spark.sql.types.StructType): Unit = {
    val clash = schema.fieldNames.filter(n => ReservedColumns.contains(n.toLowerCase))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} are reserved by the snapshot table " +
        s"(internal bucketing/merge helpers); rename them in the source schema")
  }

  private[tables] def resolveFormat(props: Map[String, String]): String =
    props.getOrElse(PropFormat, "parquet").toLowerCase match {
      case f @ ("parquet" | "orc" | "avro") => f
      case other => throw new IllegalArgumentException(s"unsupported write.format: $other")
    }

  private val SnapshotFileName = "v(\\d+)\\.json".r.anchored
  private[tables] def snapshotFileName(v: Long): String = f"v$v%08d.json"

  def apply(spark: SparkSession, location: String): SnapshotTable = new SnapshotTable(spark, location)

  // ------------------------------------------------------- JSON (de)serde

  private val mapper = new ObjectMapper()

  def toJson(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("numBuckets", s.numBuckets)
    root.put("timestampMs", s.timestampMs)
    root.put("schema", s.schema.json)
    val files = root.putArray("files")
    s.files.foreach { f =>
      val o = files.addObject()
      o.put("path", f.path); o.put("bucket", f.bucket)
      if (f.seq != 0L) o.put("seq", f.seq)
      if (f.rows >= 0L) o.put("rows", f.rows)
      if (f.bytes >= 0L) o.put("bytes", f.bytes)
      if (f.stats.nonEmpty) {
        val st = o.putObject("stats")
        f.stats.foreach { case (c, (mn, mx)) =>
          val arr = st.putArray(c); arr.add(mn); arr.add(mx)
        }
      }
    }
    if (s.deletes.nonEmpty) {
      val dels = root.putArray("deletes")
      s.deletes.foreach { d =>
        val o = dels.addObject()
        o.put("path", d.path); o.put("bucket", d.bucket); o.put("seq", d.seq)
        if (d.rows >= 0L) o.put("rows", d.rows)
        if (d.bytes >= 0L) o.put("bytes", d.bytes)
      }
    }
    val props = root.putObject("properties")
    s.properties.foreach { case (k, v) => props.put(k, v) }
    root.toString
  }

  def fromJson(json: String): Snapshot = {
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val files = root.get("files").asInstanceOf[ArrayNode].elements().asScala.map { f =>
      // "stats" is optional — manifests written before the skipping index
      // (or by stats-less writes) parse to an empty map
      val stats = Option(f.get("stats")).map { st =>
        st.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asDouble(), e.getValue.get(1).asDouble())
        }.toMap
      }.getOrElse(Map.empty[String, (Double, Double)])
      // "seq" is optional — manifests written before merge-on-read parse
      // to sequence 0 (every later delete applies to them, correctly).
      // "rows"/"bytes" are optional — legacy manifests parse to −1
      // (unknown) and consumers fall back to a footer/status read.
      DataFile(f.get("path").asText(), f.get("bucket").asInt(), stats,
        Option(f.get("seq")).map(_.asLong()).getOrElse(0L),
        Option(f.get("rows")).map(_.asLong()).getOrElse(-1L),
        Option(f.get("bytes")).map(_.asLong()).getOrElse(-1L))
    }.toSeq
    val deletes = Option(root.get("deletes")).map {
      _.asInstanceOf[ArrayNode].elements().asScala.map { d =>
        DeleteFile(d.get("path").asText(), d.get("bucket").asInt(), d.get("seq").asLong(),
          Option(d.get("rows")).map(_.asLong()).getOrElse(-1L),
          Option(d.get("bytes")).map(_.asLong()).getOrElse(-1L))
      }.toSeq
    }.getOrElse(Seq.empty)
    val props = root.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    Snapshot(
      version = root.get("version").asLong(),
      schema = DataType.fromJson(root.get("schema").asText()).asInstanceOf[StructType],
      numBuckets = root.get("numBuckets").asInt(),
      files = files,
      properties = props,
      timestampMs = root.get("timestampMs").asLong(),
      deletes = deletes
    )
  }

  private[tables] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private[tables] def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
