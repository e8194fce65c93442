package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Delta Lake transaction-log export — the second open-table-format
  * interop leg next to [[IcebergExport]], written purely from the PUBLIC
  * Delta protocol (delta-io/delta PROTOCOL.md): a `_delta_log/` directory
  * of newline-delimited-JSON commit files any Delta reader (Spark +
  * delta-spark, Trino, DuckDB delta, delta-rs) replays to the live file
  * set.
  *
  * Layout under `exportDir`:
  * {{{
  *   _delta_log/00000000000000000000.json   # protocol + metaData + adds
  *   _delta_log/00000000000000000001.json   # commitInfo + adds/removes
  * }}}
  *
  * Design mirrors the Iceberg exporter:
  *  - METADATA-ONLY and incremental: data files are referenced by
  *    absolute URI (no copies); each engine commit appends ONE log entry
  *    containing only the add/remove DIFF vs the previously exported file
  *    set, with row counts / byte sizes from the snapshot manifest — a
  *    per-commit export does zero per-file IO (O(new files)).
  *  - Idempotent: re-exporting the same engine snapshot is a no-op (the
  *    engine snapshot version rides in `commitInfo`).
  *  - Atomic publish: the commit file is written to a temp name and
  *    renamed into place; Delta's contract is put-if-absent, so an
  *    already-existing target (a concurrent writer, forbidden by the
  *    table's single-writer contract) fails loudly instead of clobbering.
  *  - Schema changes publish a fresh `metaData` action (same stable table
  *    id); Delta's schemaString IS Spark's StructType JSON, so engine and
  *    log schemas cannot drift.
  *  - Time travel: [[readTable]] replays the log up to any version.
  *
  * Deliberate constraints (loud, never silent): parquet tables only
  * (Delta data files are parquet by spec). Outstanding merge-on-read
  * deletes export as protocol DELETION VECTORS ([[DvDescriptor]] —
  * reader v3 / writer v7 `deletionVectors` feature, declared only when
  * first used so DV-free logs keep reader-1 compatibility); the position
  * bitmaps are RoaringBitmapArray-portable per PROTOCOL.md, written
  * DISTRIBUTED — one packed DV file per executor partition and commit,
  * descriptors only on the driver ([[writeDvsDistributed]]) — applied by
  * [[readTable]] and independently decoded by tools/delta_validate.py.
  */
object DeltaExport {

  private val mapper = new ObjectMapper()

  /** One live data file to publish: absolute URI, byte length, row count,
    * per-column (min, max) double stats from the snapshot manifest.
    * `bucket` is the file's id under the table's published bucket layout
    * ([0, n) real, n = null-key partition, -1 = unknown/adopted) — used
    * only when a partition column is published.
    */
  final case class ExportFile(
      uri: String, length: Long, rows: Long,
      stats: Map[String, (Double, Double)] = Map.empty,
      bucket: Int = -1)

  /** Publish the engine's bucket layout as a Delta PARTITION COLUMN
    * `<sourceColumn>_bucket` (int): Delta has no transform concept, so
    * the bucket is materialized as a real schema column whose value rides
    * in each add's `partitionValues` (protocol: partition data lives in
    * the log, not the parquet files). An external reader doing the
    * point-lookup pattern filters
    * `WHERE <src> = k AND <src>_bucket = iceberg_bucket(k, n)` and prunes
    * to one partition; the null-key partition publishes the protocol's
    * null partition value. Only pass this for
    * [[SnapshotTable.BucketFnIceberg]] layouts — wrong values would
    * silently mis-prune external readers.
    */
  final case class BucketSpec(sourceColumn: String, n: Int)

  private def logDir(exportDir: Path) = new Path(exportDir, "_delta_log")
  private def commitName(v: Long) = f"$v%020d.json"
  private def checkpointName(v: Long) = f"$v%020d.checkpoint.parquet"

  /** Write a spec checkpoint every N commits. Without checkpoints every
    * reader — and this exporter's own incremental diff — replays the
    * WHOLE JSON log, an O(commits) driver cost per commit that compounds
    * to O(n²) over a stream's life (the same growth shape as the Iceberg
    * footer-read finding r13 flagged). With them, replay cost is
    * O(live files + commits since last checkpoint) — bounded.
    */
  val CheckpointInterval = 10

  /** Spec checkpoint schema (PROTOCOL.md "Checkpoints"): one column per
    * action type, one row per action; the `txn` action carries the engine
    * snapshot version so a checkpoint-anchored replay keeps idempotence
    * without reading any JSON.
    */
  private val checkpointSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", org.apache.spark.sql.types.BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", LongType),
          StructField("sizeInBytes", LongType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", org.apache.spark.sql.types.BooleanType))))))
  }

  /** Deletion-vector descriptor (PROTOCOL.md "Deletion Vectors"): rows of
    * a data file suppressed WITHOUT rewriting it — the Delta protocol's
    * merge-on-read, reader-version-3/writer-version-7 `deletionVectors`
    * table feature. This exporter writes `storageType = "p"` (absolute
    * path, matching the absolute data-file URIs it already publishes):
    * `pathOrInlineDv` names the DV FILE, `offset` the descriptor's byte
    * position within it, `sizeInBytes` the serialized bitmap's length,
    * `cardinality` the deleted-row count.
    */
  final case class DvDescriptor(
      storageType: String, pathOrInlineDv: String, offset: Long,
      sizeInBytes: Long, cardinality: Long) {
    /** Identity for the add/remove diff: a file whose DV changed must be
      * removed and re-added — Delta file identity is (path, dv).
      */
    def uniqueId: String = s"$storageType$pathOrInlineDv@$offset"
  }

  /** One live add as replay tracks it: byte size plus the partition
    * tuple (column → value, None = protocol null partition value) and
    * the deletion vector, if any.
    */
  private final case class AddInfo(
      size: Long, partitionValues: Map[String, Option[String]] = Map.empty,
      dv: Option[DvDescriptor] = None)

  /** Magic number of the portable 64-bit RoaringBitmapArray serialization
    * the protocol names for DV bitmaps.
    */
  private val DvMagic = 1681511377

  /** Frame ONE DV into an open DV file per PROTOCOL.md:
    * `<dataSize: int32 BE> <data> <CRC32(data): int32 BE>` — the framing
    * delta-spark's DeletionVectorStore writes/expects. Returns the byte
    * count written.
    */
  private def frameDv(out: java.io.OutputStream, data: Array[Byte]): Long = {
    def be(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(i).array()
    out.write(be(data.length))
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    out.write(be(crc.getValue.toInt))
    (4 + data.length + 4).toLong
  }

  /** Portable RoaringBitmapArray bytes (PROTOCOL.md DV format): `<magic
    * 1681511377: int32 LE> <numBitmaps: int64 LE>` then each 32-bit
    * RoaringBitmap's standard portable serialization — bitmap i holds the
    * low words of positions with high word i. Deterministic for a given
    * position set (containers are add-order-independent, never
    * run-optimized), so byte equality == set equality, the property the
    * executor-side descriptor-reuse check relies on.
    */
  private def serializeBitmaps(
      bitmaps: IndexedSeq[org.roaringbitmap.RoaringBitmap]): Array[Byte] = {
    val size = 4 + 8 + bitmaps.map(_.serializedSizeInBytes()).sum
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(DvMagic)
    bb.putLong(bitmaps.size.toLong)
    bitmaps.foreach(_.serialize(bb))
    bb.array()
  }

  /** The framed `data` bytes of one stored DV, no decode — the cheap half
    * of the executor-side reuse check (byte equality against the freshly
    * serialized bitmap; see [[serializeBitmaps]] determinism note).
    */
  private def readDvBytes(fs: FileSystem, d: DvDescriptor): Array[Byte] = {
    val in = fs.open(new Path(d.pathOrInlineDv))
    try { in.seek(d.offset + 4); val b = new Array[Byte](d.sizeInBytes.toInt); in.readFully(b); b }
    finally in.close()
  }

  /** ONE replay answering both per-export questions: the last exported
    * engine snapshot (idempotence probe) and the live DV descriptors
    * (the distributed writer's reuse set) — exportDelta previously paid
    * two separate full replays for these on every commit.
    */
  private[tables] def headSnapshotAndDvs(
      fs: FileSystem, exportDir: Path): (Option[Long], Map[String, DvDescriptor]) =
    replay(fs, exportDir, at = None) match {
      case None => (None, Map.empty)
      case Some(st) =>
        (Some(st.graftSnapshot).filter(_ >= 0),
          st.files.collect { case (u, a) if a.dv.isDefined => u -> a.dv.get })
    }

  /** Write deletion vectors DISTRIBUTED: `positions` — a (`_uri` data-file
    * URI, `_pos` row index) frame bounded only by the outstanding-delete
    * backlog — is hash-partitioned by file and each executor partition
    * serializes its files' bitmaps and writes ONE packed DV .bin
    * (PROTOCOL.md layout: 1-byte format version, then per DV the
    * [[frameDv]] framing). A file whose positions are byte-identical to
    * its prior exported DV reuses the existing descriptor — no write, no
    * re-add downstream. The DRIVER sees only the returned descriptors,
    * O(DV'd files), never a position: the backlog-sized state the r16
    * packing materialized driver-side stays on the cluster.
    *
    * Task-retry-safe: the bin name is deterministic per (snapshot,
    * partition) and its content is deterministic (sorted input, canonical
    * serialization), so a retried task rewrites identical bytes.
    */
  private[tables] def writeDvsDistributed(
      spark: SparkSession,
      positions: DataFrame,
      prior: Map[String, DvDescriptor],
      dvDir: Path,
      snapshotVersion: Long): Map[String, DvDescriptor] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dirFs = dvDir.getFileSystem(conf)
    dirFs.mkdirs(dvDir)
    val dvDirStr = dirFs.makeQualified(dvDir).toString
    // ship the Hadoop conf as Writable bytes — executors on a remote store
    // (HDFS/ABFS/S3) need the driver's credentials/endpoints to open FS
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      conf.write(new java.io.DataOutputStream(baos))
      baos.toByteArray
    }
    val priorB = spark.sparkContext.broadcast(prior)
    val rows = positions
      .select(col("_uri").cast("string").as("_uri"), col("_pos").cast("long").as("_pos"))
      .repartition(col("_uri"))
      .sortWithinPartitions("_uri", "_pos")
      .as[(String, Long)]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val c = new org.apache.hadoop.conf.Configuration(false)
          c.readFields(new java.io.DataInputStream(new java.io.ByteArrayInputStream(confBytes)))
          val dir = new Path(dvDirStr)
          val pfs = dir.getFileSystem(c)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val binPath = pfs.makeQualified(new Path(dir, f"dv-v$snapshotVersion-p$pid%05d.bin"))
          var out: java.io.OutputStream = null
          var offset = 0L
          val results = Seq.newBuilder[(String, String, String, Long, Long, Long)]
          var curUri: String = null
          var bitmaps = scala.collection.mutable.ArrayBuffer.empty[org.roaringbitmap.RoaringBitmap]
          def flush(): Unit = if (curUri != null) {
            val card = bitmaps.map(_.getLongCardinality).sum
            val data = serializeBitmaps(bitmaps.toIndexedSeq)
            val reused = priorB.value.get(curUri).filter { d =>
              d.storageType == "p" && d.cardinality == card && d.sizeInBytes == data.length &&
                scala.util.Try(java.util.Arrays.equals(readDvBytes(pfs, d), data))
                  .getOrElse(false)
            }
            reused match {
              case Some(d) =>
                results += ((curUri, d.storageType, d.pathOrInlineDv, d.offset,
                  d.sizeInBytes, d.cardinality))
              case None =>
                if (out == null) { out = pfs.create(binPath, true); out.write(1); offset = 1L }
                val off = offset
                offset += frameDv(out, data)
                results += ((curUri, "p", binPath.toString, off, data.length.toLong, card))
            }
            bitmaps = scala.collection.mutable.ArrayBuffer.empty
          }
          it.foreach { case (uri, pos) =>
            if (uri != curUri) { flush(); curUri = uri }
            require(pos >= 0, "deletion-vector positions must be non-negative row indexes")
            val hi = (pos >>> 32).toInt
            // a corrupt/huge position (pos near 2^40) would otherwise grow
            // the bitmap array by ~hi EMPTY bitmaps and OOM the executor
            // instead of failing with a diagnosable error; 2^16 high words
            // = 2^48 rows per file, far beyond any real parquet file
            require(hi < (1 << 16),
              s"deletion-vector position high word overflow (pos=$pos)")
            while (bitmaps.size <= hi) bitmaps += new org.roaringbitmap.RoaringBitmap()
            bitmaps(hi).add(pos.toInt)
          }
          flush()
          if (out != null) out.close()
          results.result().iterator
        }
      }
      .collect()
    rows.map { case (uri, st, p, off, size, card) =>
      uri -> DvDescriptor(st, p, off, size, card)
    }.toMap
  }

  /** Decode one DV from its file per the descriptor — the read half used
    * by [[readTable]] (and independently reimplemented by
    * tools/delta_validate.py). Returns the deleted row indexes.
    */
  private[tables] def readDv(fs: FileSystem, d: DvDescriptor): Array[Long] = {
    require(d.storageType == "p",
      s"this reader supports path-storage DVs, got storageType '${d.storageType}'")
    val in = fs.open(new Path(d.pathOrInlineDv))
    val bytes =
      try { in.seek(d.offset); val b = new Array[Byte](4 + d.sizeInBytes.toInt + 4); in.readFully(b); b }
      finally in.close()
    val size = java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt
    require(size == d.sizeInBytes, s"DV size $size != descriptor ${d.sizeInBytes}")
    val data = java.util.Arrays.copyOfRange(bytes, 4, 4 + size)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    require(crc.getValue.toInt == java.nio.ByteBuffer.wrap(bytes, 4 + size, 4).getInt,
      "DV checksum mismatch")
    val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt == DvMagic, "DV bitmap magic mismatch")
    val n = bb.getLong.toInt
    val out = Array.newBuilder[Long]
    var hi = 0
    while (hi < n) {
      val bm = new org.roaringbitmap.RoaringBitmap()
      val p0 = bb.position()
      bm.deserialize(bb)
      // advance past the bitmap regardless of the deserialize variant's
      // position semantics
      bb.position(p0 + bm.serializedSizeInBytes())
      val it = bm.getIntIterator
      while (it.hasNext) out += (hi.toLong << 32) | (it.next().toLong & 0xFFFFFFFFL)
      hi += 1
    }
    out.result()
  }

  /** Replayed log state: last delta version, stable table id, last
    * published schema JSON, live (uri → add info) set, last engine
    * snapshot, published partition columns, and unexpired `remove`
    * tombstones (uri → deletionTimestamp) — the protocol keeps tombstones
    * visible through checkpoints until the retention window passes so
    * VACUUM/CDF readers can see them.
    */
  private final case class LogState(
      version: Long, tableId: String, schemaString: String,
      files: Map[String, AddInfo], graftSnapshot: Long,
      partitionColumns: Seq[String] = Seq.empty,
      tombstones: Map[String, Long] = Map.empty,
      readerVersion: Int = 1,
      // last metaData action's configuration — carries the bucket
      // transform's parameters (graft.bucket.source / graft.bucket.n),
      // what [[readTableForKey]] prunes with
      configuration: Map[String, String] = Map.empty)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** One LIST of `_delta_log` serving both name families — object-store
    * LIST is the dominant metadata cost of a per-commit export, so it is
    * paid once per replay, not twice. Returns (commit versions,
    * checkpoint versions), each ascending.
    */
  private def listLog(fs: FileSystem, dir: Path): (Seq[Long], Seq[Long]) =
    if (!fs.exists(logDir(dir))) (Seq.empty, Seq.empty)
    else {
      val names = fs.listStatus(logDir(dir)).toSeq.map(_.getPath.getName)
      val commits = names
        .filter(n => n.endsWith(".json") && n.length == 25 && n.dropRight(5).forall(_.isDigit))
        .map(_.dropRight(5).toLong).sorted
      val ckpts = names
        .filter(n => n.endsWith(".checkpoint.parquet") &&
          n.stripSuffix(".checkpoint.parquet").forall(_.isDigit))
        .map(_.stripSuffix(".checkpoint.parquet").toLong).sorted
      (commits, ckpts)
    }

  /** Load state AT a checkpoint version — a DRIVER-side parquet read via
    * the parquet-hadoop example Group API: the checkpoint is one KB-scale
    * single-part file, and a Spark job (scheduling + executor round trip)
    * per streaming commit just to read it would dominate low-latency
    * triggers.
    */
  private def loadCheckpoint(fs: FileSystem, dir: Path, v: Long): LogState = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.example.data.Group
    val p = new Path(logDir(dir), checkpointName(v))
    var tableId = ""
    var schemaString = ""
    var graftSnapshot = -1L
    var pcols = Seq.empty[String]
    var config = Map.empty[String, String]
    var readerVersion = 1
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddInfo]
    val tombstones = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), p).withConf(fs.getConf).build()
    try {
      var g = reader.read()
      while (g != null) {
        def has(f: String) = g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
        if (has("protocol"))
          readerVersion = g.getGroup("protocol", 0).getInteger("minReaderVersion", 0)
        if (has("metaData")) {
          val md = g.getGroup("metaData", 0)
          tableId = md.getString("id", 0)
          schemaString = md.getString("schemaString", 0)
          pcols =
            if (!md.getType.containsField("partitionColumns") ||
              md.getFieldRepetitionCount("partitionColumns") == 0) Seq.empty
            else {
              val pc = md.getGroup("partitionColumns", 0)
              (0 until pc.getFieldRepetitionCount("list")).map(i =>
                pc.getGroup("list", i).getString("element", 0))
            }
          config =
            if (!md.getType.containsField("configuration") ||
              md.getFieldRepetitionCount("configuration") == 0) Map.empty
            else {
              val m = md.getGroup("configuration", 0)
              (0 until m.getFieldRepetitionCount("key_value")).map { i =>
                val kv = m.getGroup("key_value", i)
                kv.getString("key", 0) -> kv.getString("value", 0)
              }.toMap
            }
        }
        if (has("txn")) {
          val tx = g.getGroup("txn", 0)
          if (tx.getString("appId", 0) == "graft-export") graftSnapshot = tx.getLong("version", 0)
        }
        if (has("add")) {
          val ad = g.getGroup("add", 0)
          val pv: Map[String, Option[String]] =
            if (!ad.getType.containsField("partitionValues") ||
              ad.getFieldRepetitionCount("partitionValues") == 0) Map.empty
            else {
              val m = ad.getGroup("partitionValues", 0)
              (0 until m.getFieldRepetitionCount("key_value")).map { i =>
                val kv = m.getGroup("key_value", i)
                val value =
                  if (kv.getFieldRepetitionCount("value") == 0) None
                  else Some(kv.getString("value", 0))
                kv.getString("key", 0) -> value
              }.toMap
            }
          val dv =
            if (!ad.getType.containsField("deletionVector") ||
              ad.getFieldRepetitionCount("deletionVector") == 0) None
            else {
              val d = ad.getGroup("deletionVector", 0)
              Some(DvDescriptor(d.getString("storageType", 0), d.getString("pathOrInlineDv", 0),
                d.getLong("offset", 0), d.getLong("sizeInBytes", 0), d.getLong("cardinality", 0)))
            }
          files(decodePath(ad.getString("path", 0))) = AddInfo(ad.getLong("size", 0), pv, dv)
        }
        if (has("remove")) {
          val rm = g.getGroup("remove", 0)
          tombstones(decodePath(rm.getString("path", 0))) = rm.getLong("deletionTimestamp", 0)
        }
        g = reader.read()
      }
    } finally reader.close()
    require(schemaString.nonEmpty, s"checkpoint $v under $dir carries no metaData")
    LogState(v, tableId, schemaString, files.toMap, graftSnapshot, pcols, tombstones.toMap,
      readerVersion, config)
  }

  /** Tombstone visibility window for checkpoints (the protocol's
    * `delta.deletedFileRetentionDuration` default, 1 week): a checkpoint
    * must CARRY unexpired `remove` actions — dropping them would hide
    * removed files from VACUUM and change-data readers that anchor on the
    * checkpoint instead of replaying the pruned JSON history.
    */
  val TombstoneRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Write the spec checkpoint for the state just committed at `v`, plus
    * `_last_checkpoint`. One single-part parquet file, so readers do one
    * footer read — written on the DRIVER through the parquet-hadoop example
    * Group API, like [[loadCheckpoint]] reads it: the checkpoint is
    * KB-scale, and a Spark write job per checkpoint would dominate the
    * commit that triggers it. The parquet schema is the one Spark's own
    * writer derives from [[checkpointSchema]] (3-level lists and maps),
    * which is what Delta readers expect. The file is written beside its
    * final name and renamed into place, so a reader never sees a partial
    * file.
    */
  private def writeCheckpoint(fs: FileSystem, dir: Path, v: Long,
      tableId: String, schemaString: String, snapshotVersion: Long, timestampMs: Long,
      adds: Seq[(ExportFile, Map[String, Option[String]], Option[DvDescriptor])],
      properties: Map[String, String],
      pcols: Seq[String], tombstones: Map[String, Long], readerV: Int = 1,
      // the bucket transform's parameters (graft.bucket.source/.n) — the
      // checkpoint must carry the SAME configuration the JSON metaData
      // publishes, or a checkpoint-anchored replay loses the pruning keys
      extraConf: Map[String, String] = Map.empty): Unit = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    val conf = properties.toSeq.sortBy(_._1).map { case (k, vv) => (s"graft.$k", vv) }.toMap ++
      extraConf
    val schema = new SparkToParquetSchemaConverter().convert(checkpointSchema)
    val factory = new SimpleGroupFactory(schema)
    def putList(g: Group, field: String, xs: Seq[String]): Unit = {
      val l = g.addGroup(field)
      xs.foreach(x => l.addGroup("list").append("element", x))
    }
    def putMap(g: Group, field: String, m: Iterable[(String, Option[String])]): Unit = {
      val kvs = g.addGroup(field)
      m.foreach { case (k, ov) =>
        val kv = kvs.addGroup("key_value").append("key", k)
        ov.foreach(kv.append("value", _))
      }
    }
    def action(name: String)(fill: Group => Unit): Group = {
      val row = factory.newGroup()
      fill(row.addGroup(name))
      row
    }
    val rows = Seq(
      action("txn")(_.append("appId", "graft-export").append("version", snapshotVersion)),
      action("protocol") { p =>
        if (readerV >= 3) {
          p.append("minReaderVersion", 3).append("minWriterVersion", 7)
          putList(p, "readerFeatures", Seq("deletionVectors"))
          putList(p, "writerFeatures", Seq("deletionVectors"))
        } else p.append("minReaderVersion", 1).append("minWriterVersion", 2)
      },
      action("metaData") { md =>
        md.append("id", tableId)
        putMap(md.addGroup("format").append("provider", "parquet"), "options", Nil)
        md.append("schemaString", schemaString)
        putList(md, "partitionColumns", pcols)
        putMap(md, "configuration", conf.map { case (k, vv) => k -> Option(vv) })
        md.append("createdTime", timestampMs)
      }) ++
      adds.map { case (f, pv, dv) => action("add") { ad =>
        ad.append("path", encodePath(f.uri))
        putMap(ad, "partitionValues", pv)
        ad.append("size", f.length).append("modificationTime", timestampMs)
          .append("dataChange", true).append("stats", statsJson(f))
        dv.foreach(x => ad.addGroup("deletionVector")
          .append("storageType", x.storageType).append("pathOrInlineDv", x.pathOrInlineDv)
          .append("offset", x.offset).append("sizeInBytes", x.sizeInBytes)
          .append("cardinality", x.cardinality))
      } } ++
      tombstones.collect { case (uri, delTs) if timestampMs - delTs <= TombstoneRetentionMs =>
        action("remove")(_.append("path", encodePath(uri)).append("deletionTimestamp", delTs)
          .append("dataChange", true))
      }
    val target = new Path(logDir(dir), checkpointName(v))
    val tmp = new Path(logDir(dir), s".${checkpointName(v)}.tmp")
    val writer = ExampleParquetWriter.builder(tmp).withConf(fs.getConf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of(
        "org.apache.spark.sql.parquet.row.metadata", checkpointSchema.json))
      .build()
    try rows.foreach(writer.write) finally writer.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"checkpoint publish of $target failed")
    val lc = mapper.createObjectNode()
    lc.put("version", v)
    lc.put("size", rows.size.toLong)
    val lcTmp = new Path(logDir(dir), "._last_checkpoint.tmp")
    val out = fs.create(lcTmp, true)
    try out.write(mapper.writeValueAsString(lc).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val lcPath = new Path(logDir(dir), "_last_checkpoint")
    fs.delete(lcPath, false)
    if (!fs.rename(lcTmp, lcPath))
      throw new java.io.IOException("publish of _last_checkpoint failed")
  }

  /** Replay the log through `at` (inclusive; None = head). Returns None
    * for an empty/absent log. Replay anchors on the newest checkpoint ≤
    * target (driver-side parquet read) and walks only the JSON commits
    * after it — bounded by [[CheckpointInterval]] regardless of log age.
    */
  private def replay(fs: FileSystem, dir: Path, at: Option[Long]): Option[LogState] =
    replayFrom(fs, dir, at, listLog(fs, dir))

  /** Replay against an ALREADY-LISTED log — [[write]] lists `_delta_log`
    * exactly once per export (object-store LIST is the dominant metadata
    * cost of a per-commit exporter) and threads the listing through both
    * the replay and the checkpoint-due test.
    */
  private def replayFrom(fs: FileSystem, dir: Path, at: Option[Long],
      listing: (Seq[Long], Seq[Long])): Option[LogState] = {
    val (all, ckpts) = listing
    val upToAll = at match {
      case Some(a) =>
        require(all.contains(a), s"delta log has no version $a under $dir")
        all.filter(_ <= a)
      case None => all
    }
    if (upToAll.isEmpty) return None
    val anchor = ckpts.filter(_ <= upToAll.last).lastOption
      .map(v => loadCheckpoint(fs, dir, v))
    var tableId = anchor.map(_.tableId).getOrElse("")
    var schemaString = anchor.map(_.schemaString).getOrElse("")
    var graftSnapshot = anchor.map(_.graftSnapshot).getOrElse(-1L)
    var pcols = anchor.map(_.partitionColumns).getOrElse(Seq.empty)
    var config = anchor.map(_.configuration).getOrElse(Map.empty[String, String])
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddInfo]
    val tombstones = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    anchor.foreach { a =>
      a.files.foreach { case (k, v) => files(k) = v }
      a.tombstones.foreach { case (k, v) => tombstones(k) = v }
    }
    var readerVersion = anchor.map(_.readerVersion).getOrElse(1)
    val upTo = upToAll.filter(v => anchor.forall(v > _.version))
    upTo.foreach { v =>
      readText(fs, new Path(logDir(dir), commitName(v))).linesIterator
        .filter(_.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          if (n.has("protocol"))
            readerVersion = n.get("protocol").get("minReaderVersion").asInt()
          if (n.has("metaData")) {
            val md = n.get("metaData")
            tableId = md.get("id").asText()
            schemaString = md.get("schemaString").asText()
            pcols = Option(md.get("partitionColumns")).map(
              _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
            config = Option(md.get("configuration")).map(
              _.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
              .getOrElse(Map.empty)
          }
          if (n.has("commitInfo") && n.get("commitInfo").has("operationParameters")) {
            val op = n.get("commitInfo").get("operationParameters")
            if (op.has("graftSnapshotVersion"))
              graftSnapshot = op.get("graftSnapshotVersion").asText().toLong
          }
          if (n.has("add")) {
            val a = n.get("add")
            val pv = Option(a.get("partitionValues")).map { m =>
              m.properties().asScala.map { e =>
                e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
              }.toMap
            }.getOrElse(Map.empty[String, Option[String]])
            val dv = Option(a.get("deletionVector")).map { d =>
              DvDescriptor(d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
                Option(d.get("offset")).map(_.asLong()).getOrElse(0L),
                d.get("sizeInBytes").asLong(), d.get("cardinality").asLong())
            }
            val path = decodePath(a.get("path").asText())
            files(path) = AddInfo(a.get("size").asLong(), pv, dv)
            tombstones.remove(path) // re-add supersedes the tombstone
          }
          if (n.has("remove")) {
            val r = n.get("remove")
            val path = decodePath(r.get("path").asText())
            files.remove(path)
            tombstones(path) =
              Option(r.get("deletionTimestamp")).map(_.asLong()).getOrElse(0L)
          }
        }
    }
    Some(LogState(upToAll.last, tableId, schemaString, files.toMap, graftSnapshot,
      pcols, tombstones.toMap, readerVersion, config))
  }

  /** Delta `add.path`/`remove.path` are RFC 2396 percent-encoded URIs —
    * spec readers (delta-spark, delta-rs) URL-DECODE them before opening,
    * so a raw path containing e.g. a literal '%' or space would resolve
    * to the wrong file. Encode on write, decode on read; the multi-arg
    * URI constructor percent-encodes exactly the illegal characters.
    */
  private def encodePath(raw: String): String = {
    val u = new Path(raw).toUri
    new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, null).toASCIIString
  }

  private def decodePath(encoded: String): String =
    new Path(new java.net.URI(encoded)).toString

  private def statsJson(f: ExportFile): String = {
    val root = mapper.createObjectNode()
    root.put("numRecords", f.rows)
    if (f.stats.nonEmpty) {
      val mins = root.putObject("minValues")
      val maxs = root.putObject("maxValues")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        mins.put(c, lo); maxs.put(c, hi)
      }
    }
    mapper.writeValueAsString(root)
  }

  /** Publish `files` as the next Delta commit. Returns the commit file
    * path. No-op (returns the existing head) when `snapshotVersion` is
    * already published; refuses to move BACKWARDS (a rollback must export
    * into a fresh directory — Delta versions are append-only).
    */
  def write(
      fs: FileSystem,
      exportDir: Path,
      schema: StructType,
      snapshotVersion: Long,
      timestampMs: Long,
      files: Seq[ExportFile],
      properties: Map[String, String] = Map.empty,
      spark: Option[SparkSession] = None,
      bucketSpec: Option[BucketSpec] = None,
      // data-file uri → deletion-vector descriptor (already written —
      // [[writeDvsDistributed]]): published as protocol deletion vectors
      // (reader v3 / writer v7 `deletionVectors` feature), so an
      // uncompacted merge-on-read stream exports without rewriting data —
      // the Delta counterpart of the Iceberg leg's equality-delete
      // manifests. A descriptor equal to the prior export's (the
      // distributed writer's reuse path) leaves its file un-re-added.
      dvs: Map[String, DvDescriptor] = Map.empty
  ): Path = {
    // ONE `_delta_log` LIST per export: replay and the checkpoint-due test
    // below share this listing instead of each paying their own
    val listing = listLog(fs, exportDir)
    val prior = replayFrom(fs, exportDir, at = None, listing)
    prior.foreach { st =>
      if (st.graftSnapshot == snapshotVersion)
        return new Path(logDir(exportDir), commitName(st.version)) // idempotent
      require(st.graftSnapshot < snapshotVersion,
        s"delta export dir is at engine snapshot ${st.graftSnapshot}, refusing to publish " +
          s"older snapshot $snapshotVersion (append-only log; export a rollback to a fresh dir)")
    }
    fs.mkdirs(logDir(exportDir))

    val nextVersion = prior.map(_.version + 1).getOrElse(0L)
    val tableId = prior.map(_.tableId).filter(_.nonEmpty)
      .getOrElse(UUID.nameUUIDFromBytes(exportDir.toString.getBytes(StandardCharsets.UTF_8)).toString)

    // Partition layout of the DIRECTORY: a fresh dir adopts the caller's
    // BucketSpec; an existing dir KEEPS its published layout — flipping
    // partition columns mid-log would orphan prior adds' partitionValues
    // for every replaying reader. Directions are loud, never silent:
    // partitioned dir + no spec fails (values cannot be fabricated), and
    // unknown-bucket files under a partition layout fail (adopted files
    // must be rebucketed/compacted before a partitioned export).
    val targetPcols = bucketSpec.map(bs => Seq(s"${bs.sourceColumn}_bucket")).getOrElse(Seq.empty)
    val allBucketsKnown = files.forall(_.bucket >= 0)
    val pcols: Seq[String] = prior match {
      // fresh dir: adopt the layout, but only when every file has a
      // truthful value (adopted foreign files don't — stay unpartitioned
      // rather than lie; the next compaction's export can't partition
      // this dir either, it is already committed unpartitioned)
      case None => if (allBucketsKnown) targetPcols else Seq.empty
      // dir predates the layout (empty): stay unpartitioned — flipping
      // partition columns mid-log would orphan prior adds' tuples
      case Some(st) => st.partitionColumns
    }
    if (pcols.nonEmpty) {
      require(pcols == targetPcols,
        s"export dir is partitioned by ${pcols.mkString(",")} but the table now publishes " +
          s"${if (targetPcols.isEmpty) "no bucket layout" else targetPcols.mkString(",")} — " +
          "export to a fresh directory")
      require(allBucketsKnown,
        "partitioned delta export requires every file's bucket to be known — " +
          "adopted foreign files have no truthful partition value; run compact()/" +
          "rebucketAdopted() first")
    }
    def partitionValuesOf(f: ExportFile): Map[String, Option[String]] =
      if (pcols.isEmpty) Map.empty
      else Map(pcols.head -> (if (f.bucket == bucketSpec.get.n) None else Some(f.bucket.toString)))
    // the partition column is part of the published SCHEMA (protocol:
    // partition columns are schema columns whose data lives in the log)
    val publishedSchema =
      if (pcols.isEmpty) schema
      else StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(pcols.head, org.apache.spark.sql.types.IntegerType))
    val schemaString = publishedSchema.json

    // deletion vectors: descriptors arrive PRE-WRITTEN (distributed,
    // [[writeDvsDistributed]] — the driver never holds a position); a
    // file whose DV CHANGED is removed (with its old DV) and re-added —
    // Delta file identity is (path, dv). A file whose descriptor equals
    // the prior export's (the writer's reuse path) diffs to nothing, so a
    // per-commit exporter wired into a stream re-adds only files whose
    // deletes actually advanced — not every DV'd file every commit.
    require(dvs.keySet.subsetOf(files.map(_.uri).toSet),
      "dvs must reference live data files")
    val dvDescriptors: Map[String, DvDescriptor] = dvs
    def dvId(o: Option[DvDescriptor]) = o.map(_.uniqueId).getOrElse("")

    val prevFiles = prior.map(_.files).getOrElse(Map.empty)
    val nextFiles = files.map(f => f.uri -> f).toMap
    val adds = files.filter { f =>
      prevFiles.get(f.uri) match {
        case None     => true
        case Some(pi) => dvId(pi.dv) != dvId(dvDescriptors.get(f.uri))
      }
    }
    // (uri, the REMOVED add's dv — the spec wants removes to carry it so
    // VACUUM can reason about the dv file)
    val removes: Seq[(String, Option[DvDescriptor])] =
      (prevFiles.keys.filterNot(nextFiles.contains).map(u => u -> prevFiles(u).dv) ++
        files.flatMap { f =>
          prevFiles.get(f.uri) match {
            case Some(pi) if dvId(pi.dv) != dvId(dvDescriptors.get(f.uri)) =>
              Some(f.uri -> pi.dv)
            case _ => None
          }
        }).toSeq.sortBy(_._1)

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val commitInfo = mapper.createObjectNode()
    val ci = commitInfo.putObject("commitInfo")
    ci.put("timestamp", timestampMs)
    ci.put("operation", if (nextVersion == 0L) "WRITE" else "MERGE")
    ci.putObject("operationParameters").put("graftSnapshotVersion", snapshotVersion.toString)
    ci.put("engineInfo", "graft-snapshot-export")
    lines += mapper.writeValueAsString(commitInfo)

    // Protocol: plain logs stay reader 1 / writer 2 (readable by EVERY
    // Delta reader); the first commit that publishes deletion vectors
    // declares (or upgrades to) reader 3 / writer 7 with the
    // `deletionVectors` table feature — never before, so DV-free exports
    // keep maximum reader compatibility.
    val priorReader = prior.map(_.readerVersion).getOrElse(1)
    val needsDvProtocol = dvDescriptors.nonEmpty && priorReader < 3
    if (nextVersion == 0L || needsDvProtocol) {
      val proto = mapper.createObjectNode()
      val p = proto.putObject("protocol")
      if (dvDescriptors.nonEmpty) {
        p.put("minReaderVersion", 3)
        p.put("minWriterVersion", 7)
        p.putArray("readerFeatures").add("deletionVectors")
        p.putArray("writerFeatures").add("deletionVectors")
      } else {
        p.put("minReaderVersion", 1)
        p.put("minWriterVersion", 2)
      }
      lines += mapper.writeValueAsString(proto)
    }
    if (prior.forall(_.schemaString != schemaString)) {
      val meta = mapper.createObjectNode()
      val m = meta.putObject("metaData")
      m.put("id", tableId)
      val fmt = m.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      m.put("schemaString", schemaString)
      val pcArr = m.putArray("partitionColumns")
      pcols.foreach(pcArr.add)
      val conf = m.putObject("configuration")
      properties.toSeq.sortBy(_._1).foreach { case (k, v) => conf.put(s"graft.$k", v) }
      // the bucket transform's parameters (Delta has no transform concept
      // in the spec itself): documented convention so readers — and the
      // independent validator — can recompute `iceberg_bucket(key, n)`
      // from a point-lookup key and prune on the partition column
      if (pcols.nonEmpty) {
        conf.put("graft.bucket.source", bucketSpec.get.sourceColumn)
        conf.put("graft.bucket.n", bucketSpec.get.n.toString)
      }
      m.put("createdTime", timestampMs)
      lines += mapper.writeValueAsString(meta)
    }
    def putDv(parent: com.fasterxml.jackson.databind.node.ObjectNode,
        d: DvDescriptor): Unit = {
      val dv = parent.putObject("deletionVector")
      dv.put("storageType", d.storageType)
      dv.put("pathOrInlineDv", d.pathOrInlineDv)
      dv.put("offset", d.offset)
      dv.put("sizeInBytes", d.sizeInBytes)
      dv.put("cardinality", d.cardinality)
    }
    removes.foreach { case (uri, oldDv) =>
      val rm = mapper.createObjectNode()
      val r = rm.putObject("remove")
      r.put("path", encodePath(uri))
      r.put("deletionTimestamp", timestampMs)
      r.put("dataChange", true)
      oldDv.foreach(putDv(r, _))
      lines += mapper.writeValueAsString(rm)
    }
    adds.foreach { f =>
      val ad = mapper.createObjectNode()
      val a = ad.putObject("add")
      a.put("path", encodePath(f.uri))
      val pv = a.putObject("partitionValues")
      partitionValuesOf(f).foreach {
        case (k, Some(v)) => pv.put(k, v)
        case (k, None)    => pv.putNull(k) // protocol: null partition value
      }
      a.put("size", f.length)
      a.put("modificationTime", timestampMs)
      a.put("dataChange", true)
      a.put("stats", statsJson(f))
      dvDescriptors.get(f.uri).foreach(putDv(a, _))
      lines += mapper.writeValueAsString(ad)
    }

    val target = new Path(logDir(exportDir), commitName(nextVersion))
    val tmp = new Path(logDir(exportDir), s".${commitName(nextVersion)}.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // PUT-IF-ABSENT publish: a plain FileSystem.rename on POSIX silently
    // clobbers an existing target, so a concurrent-writer race would lose
    // the first writer's diff without a trace. (Single-writer is the
    // contract; this makes breaking it loud, not silent.) Resolved under
    // the LIVE conf, never fs.getConf: a cached FileSystem freezes the
    // conf it was created under, so a scheme binding registered later
    // would be invisible and the publish would fail on a healthy scheme.
    try AtomicRename.putIfAbsent(fs,
      spark.map(_.sparkContext.hadoopConfiguration).getOrElse(fs.getConf), tmp, target)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"delta commit $target already exists — concurrent writer? (single-writer contract)", e)
    }
    // Spec checkpoint: due every CheckpointInterval commits — caps every
    // future replay (readers AND this exporter's own diff) at one parquet
    // read + at most ~CheckpointInterval JSON commits. BEST-EFFORT with
    // catch-up: the commit above is already durable, so a transient
    // checkpoint failure must not fail a batch whose export succeeded —
    // and because the due-test is "behind by >= interval", the NEXT commit
    // retries instead of waiting a whole interval with replay unbounded.
    val ckptDue = nextVersion > 0 &&
      (nextVersion % CheckpointInterval == 0 ||
        nextVersion - listing._2.lastOption.getOrElse(0L) >= CheckpointInterval)
    if (ckptDue) {
      // the checkpoint carries the state JUST committed: current adds
      // (with partition tuples) plus the unexpired tombstones — prior
      // ones still in the window, plus this commit's removes
      // removed-and-RE-ADDED paths (a DV change) are live, not tombstones
      val tombstones = prior.map(_.tombstones).getOrElse(Map.empty) ++
        removes.collect { case (u, _) if !nextFiles.contains(u) => u -> timestampMs }
      try writeCheckpoint(fs, exportDir, nextVersion, tableId, schemaString,
        snapshotVersion, timestampMs,
        files.map(f => (f, partitionValuesOf(f), dvDescriptors.get(f.uri))), properties,
        pcols, tombstones, readerV = if (dvDescriptors.nonEmpty || priorReader >= 3) 3 else 1,
        extraConf =
          if (pcols.isEmpty) Map.empty
          else Map("graft.bucket.source" -> bucketSpec.get.sourceColumn,
            "graft.bucket.n" -> bucketSpec.get.n.toString))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"DELTA EXPORT: checkpoint at v$nextVersion failed " +
            s"(commit is durable; next commit retries): ${e.getMessage}")
      }
    }
    target
  }

  private def replayed(fs: FileSystem, exportDir: Path, at: Option[Long]): LogState =
    replay(fs, exportDir, at).getOrElse(
      throw new IllegalArgumentException(s"no delta log under $exportDir"))

  /** Live (uri, size) file set at `at` (None = head), by log replay only —
    * the reader half used by the gate, which must see the table
    * EXCLUSIVELY through the exported log.
    */
  def readFiles(fs: FileSystem, exportDir: Path, at: Option[Long] = None): Seq[(String, Long)] = {
    val st = replayed(fs, exportDir, at)
    // a DV'd file's PHYSICAL rows over-count its live rows: a raw file
    // list would silently resurrect deleted rows for any consumer that
    // scans the files directly (adoptDeltaTable's exact failure mode) —
    // refuse loudly, the row-correct read is readTable
    st.files.collect { case (u, a) if a.dv.isDefined => u }.toSeq match {
      case Seq() => ()
      case dvd => throw new IllegalStateException(
        s"${dvd.size} live file(s) carry deletion vectors — a raw file list would " +
          "resurrect deleted rows; read through readTable, or compact the source first")
    }
    st.files.toSeq.map { case (u, a) => (u, a.size) }.sortBy(_._1)
  }

  /** Read the exported table through the log: schema from the last
    * `metaData` action (never inferred from data files), files from
    * replay, PARTITION COLUMNS materialized from each add's
    * `partitionValues` — the protocol stores partition data in the log,
    * not the parquet files, so a spec reader reconstructs the column
    * exactly like this. `at` time-travels to a specific delta version.
    */
  def readTable(spark: SparkSession, exportDir: Path, at: Option[Long] = None,
      // driver-decode/broadcast bound on summed DV cardinality; tests
      // lower it to pin the distributed-decode + shuffle degradation path
      dvDriverBound: Long = 2000000L): DataFrame = {
    val fs = exportDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = replayed(fs, exportDir, at)
    liveRows(spark, fs, st, st.files, dvDriverBound)
  }

  /** Bucket-pruned POINT LOOKUP through the exported log — the Delta
    * leg's parity with [[IcebergExport.readTableForKey]] (the reference's
    * primary external access pattern, `WHERE merge_key = k`): the key's
    * `bucket[N]` value is recomputed from the `graft.bucket.source`/`.n`
    * transform parameters the metaData configuration publishes, only
    * adds whose partition tuple matches are planned (the null-key
    * partition can never match a concrete key; a tuple-less add has made
    * no claim and must scan), outstanding deletion vectors apply to the
    * PRUNED file set only, and the row predicate filters last. At 100 TB
    * a lookup touches one bucket's files — not every live file, and not
    * every DV.
    */
  def readTableForKey(spark: SparkSession, exportDir: Path, key: Any,
      at: Option[Long] = None, dvDriverBound: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = exportDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = replayed(fs, exportDir, at)
    val (srcName, kept) = pruneForKey(st, exportDir, key)
    liveRows(spark, fs, st, kept, dvDriverBound).where(col(srcName) === lit(key))
  }

  /** The (kept uris, all live uris) a bucket-pruned point lookup plans —
    * exposed so specs can pin the pruning without depending on Spark's
    * scan internals (the [[IcebergExport.plannedDataFilesForKey]]
    * counterpart).
    */
  def plannedFilesForKey(spark: SparkSession, exportDir: Path, key: Any)
      : (Seq[String], Seq[String]) = {
    val fs = exportDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = replayed(fs, exportDir, None)
    val (_, kept) = pruneForKey(st, exportDir, key)
    (kept.keys.toSeq.sorted, st.files.keys.toSeq.sorted)
  }

  private def pruneForKey(
      st: LogState, exportDir: Path, key: Any): (String, Map[String, AddInfo]) = {
    require(st.partitionColumns.nonEmpty,
      s"export at $exportDir publishes no bucket partition column; use readTable + a filter")
    val src = st.configuration.getOrElse("graft.bucket.source",
      sys.error(s"graft.bucket.source missing from $exportDir metaData configuration"))
    val n = st.configuration.getOrElse("graft.bucket.n",
      sys.error(s"graft.bucket.n missing from $exportDir metaData configuration")).toInt
    val schema = DataType.fromJson(st.schemaString).asInstanceOf[StructType]
    val field = schema.fields.find(_.name == src).getOrElse(
      sys.error(s"bucket source column '$src' not in the published schema"))
    val b = IcebergExport.bucketOfKey(field.dataType, key, n).toString
    val pname = st.partitionColumns.head
    (src, st.files.filter { case (_, a) => LiveScan.bucketMatches(a.partitionValues.get(pname), b) })
  }

  /** Build the live-row frame for a (possibly pruned) subset of the
    * replayed adds: partition tuples from the log, DVs of the SUBSET
    * applied by (file, row index).
    */
  private def liveRows(spark: SparkSession, fs: FileSystem, st: LogState,
      files: Map[String, AddInfo], dvDriverBound: Long): DataFrame = {
    import spark.implicits._
    val schema = DataType.fromJson(st.schemaString).asInstanceOf[StructType]
    val scanFiles = files.toSeq.sortBy(_._1).map { case (u, a) =>
      ScanFile(u, a.size, tuple = st.partitionColumns.map(pc => a.partitionValues.get(pc).flatten))
    }
    val dvFiles = files.toSeq.collect { case (u, a) if a.dv.isDefined => (u, a.dv.get) }
    // The driver decodes DVs only while the summed cardinality — read
    // from the DESCRIPTORS, so no decode is needed to decide — is
    // change-set-sized (then the positions broadcast); past the bound the
    // decode moves to executors and the anti join degrades LOUDLY to a
    // shuffle, so a deferred-OPTIMIZE backlog can neither OOM the driver
    // nor blow a broadcast (the read-side mirror of writeDvsDistributed's
    // export-side bound).
    val totalDeleted = dvFiles.map(_._2.cardinality).sum
    val pos = if (dvFiles.isEmpty) None
      else if (totalDeleted <= dvDriverBound) Some(LiveScan.PositionDeletes(
        dvFiles.flatMap { case (u, d) =>
          val p = LiveScan.canonicalPath(u)
          readDv(fs, d).map(i => (p, i))
        }.toDF("_dpath", "_dpos"), seqScoped = false))
      else {
        System.err.println(s"DELTA READ: $totalDeleted outstanding deleted positions " +
          "exceed the driver/broadcast bound — decoding DVs on executors and " +
          "degrading to a shuffle anti join (still exact; compact the source " +
          "to clear the backlog)")
        val confBytes = {
          val baos = new java.io.ByteArrayOutputStream()
          spark.sparkContext.hadoopConfiguration.write(new java.io.DataOutputStream(baos))
          baos.toByteArray
        }
        val descRows = dvFiles.map { case (u, d) =>
          (LiveScan.canonicalPath(u), d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes)
        }
        val decoded = spark.createDataset(descRows)
          .repartition(math.max(1, math.min(descRows.size,
            spark.sparkContext.defaultParallelism)))
          .mapPartitions { it =>
            if (it.isEmpty) Iterator.empty
            else {
              val c = new org.apache.hadoop.conf.Configuration(false)
              c.readFields(new java.io.DataInputStream(
                new java.io.ByteArrayInputStream(confBytes)))
              var cachedFs: FileSystem = null
              it.flatMap { case (p, st, dvp, off, size) =>
                val dvPath = new Path(dvp)
                if (cachedFs == null) cachedFs = dvPath.getFileSystem(c)
                readDv(cachedFs, DvDescriptor(st, dvp, off, size, 0L)).iterator
                  .map(pos => (p, pos))
              }
            }
          }
          .toDF("_dpath", "_dpos")
        Some(LiveScan.PositionDeletes(decoded, seqScoped = false, broadcast = false))
      }
    LiveScan(spark, schema, scanFiles, st.partitionColumns, pos = pos)
  }

  /** Delta version history (ascending) — for time-travel tests. */
  def logVersions(fs: FileSystem, exportDir: Path): Seq[Long] = listLog(fs, exportDir)._1
}
