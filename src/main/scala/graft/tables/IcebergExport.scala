package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sql.IcebergBucket
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Apache Iceberg FORMAT-VERSION-2 metadata export for a [[SnapshotTable]]
  * snapshot — the offline-feasible half of the reference's biggest interop
  * property: its targets are genuine Iceberg tables that any engine reads
  * through a catalog (`/root/reference/src/main/scala/main.scala:105-110`,
  * `docker-compose.yaml:54-78`). The Iceberg TABLE SPEC is public; writing
  * spec-conformant metadata needs no Iceberg runtime JAR, so the export
  * closes the any-engine-readable promise for every reader that speaks
  * Iceberg (Spark+iceberg-runtime, Trino, DuckDB's iceberg extension,
  * pyiceberg) even though this sandbox cannot load one to round-trip it.
  *
  * Layout written under `exportDir` (HadoopCatalog / filesystem-table
  * convention, discoverable via `version-hint.text`):
  * {{{
  * <exportDir>/metadata/
  *   version-hint.text            # "1"
  *   v1.metadata.json             # TableMetadata (format-version 2)
  *   snap-<id>-manifest-list.avro # manifest list (data [+ delete] manifests)
  *   <uuid>-m0.avro               # data manifest: ADDED/EXISTING/DELETED per file
  *   <uuid>-m1.avro               # delete manifest (equality deletes), when present
  * }}}
  *
  * Data files are referenced by ABSOLUTE URI (spec-legal; Iceberg resolves
  * `file_path` directly), so the export is metadata-only — row counts and
  * sizes arrive from the table's own manifest, zero per-file IO for carried
  * files, zero data copies — the only shape that survives a per-commit
  * export wired into a stream against a 100 TB table. Dead files from
  * superseded snapshots are simply not referenced; that is exactly how
  * Iceberg readers isolate from in-progress rewrites.
  *
  * Spec-conformance details carried by this writer:
  *  - FIELD IDS ARE DURABLE: a column name is bound to its field id
  *    forever within an export dir (the id map is recovered from the prior
  *    metadata's `schemas` on every incremental export; fresh names get
  *    ids above `last-column-id`, which never decreases, so a dropped
  *    column's id is never reused). Re-binding a known name to an
  *    incompatible type fails the export loudly instead of silently
  *    breaking Iceberg's column-identity rule for time-traveling readers.
  *  - `schema.name-mapping.default` is published so engines project our
  *    field-id-less parquet/orc data files by NAME (the spec's
  *    name-mapping fallback — exactly its purpose for migrated files).
  *  - Carried files are written as EXISTING entries keeping their original
  *    `snapshot_id`/sequence numbers; removed files get DELETED tombstone
  *    entries; `operation` is `overwrite` when the commit removed files or
  *    added delete files, `append` otherwise — so incremental-append and
  *    CDC consumers never double-count.
  *  - Merge-on-read commits export their outstanding EQUALITY DELETE files
  *    as a content=1 manifest (`equality_ids` = the merge-key field id,
  *    per-file data sequence numbers), which v2 readers merge natively —
  *    no forced compaction before export.
  *
  * [[readDataFiles]]/[[readLiveRows]]/[[readTable]] walk the chain back
  * (version-hint → metadata.json → manifest list → manifests → file
  * paths, applying BOTH v2 delete kinds — equality and position — by
  * their sequence-number rules) using only the public spec — the
  * correctness gates read the table THROUGH the export, proving an
  * external reader following Iceberg metadata sees exactly the live rows.
  */
object IcebergExport {

  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------- schemas

  /** Spark → Iceberg primitive type names (Iceberg spec "Primitive Types"). */
  private[tables] def icebergType(dt: DataType): String = dt match {
    case BooleanType      => "boolean"
    case IntegerType      => "int"
    case ShortType        => "int" // Iceberg has no short; int is the spec'd promotion
    case ByteType         => "int"
    case LongType         => "long"
    case FloatType        => "float"
    case DoubleType       => "double"
    case StringType       => "string"
    case BinaryType       => "binary"
    case DateType         => "date"
    case TimestampType    => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType   => s"decimal(${d.precision}, ${d.scale})"
    case other =>
      throw new IllegalArgumentException(
        s"cannot export ${other.simpleString} to an Iceberg primitive type")
  }

  /** Iceberg primitive type name → Spark type (inverse of [[icebergType]]
    * on its image; `decimal(p, s)` parses both spaced and compact forms).
    * Lets [[readTable]] derive the read schema from the metadata itself —
    * what an external consumer of a FOREIGN Iceberg table must do.
    */
  private[graft] def sparkType(t: String): DataType = t.trim match {
    case "boolean"     => BooleanType
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "string"      => StringType
    case "binary"      => BinaryType
    case "date"        => DateType
    case "timestamptz" => TimestampType
    case "timestamp"   => TimestampNTZType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other =>
      throw new IllegalArgumentException(s"unsupported Iceberg type for reading: $other")
  }

  /** Legal Iceberg type promotion under a FIXED field id (spec "Schema
    * Evolution"): int→long, float→double, decimal precision widening at
    * the same scale. Everything else re-binding a known name is a
    * column-identity violation and must fail the export.
    */
  private[graft] def legalPromotion(from: String, to: String): Boolean =
    (from, to) match {
      case (a, b) if a == b          => true
      case ("int", "long")           => true
      case ("float", "double")       => true
      case (a, b) if a.startsWith("decimal(") && b.startsWith("decimal(") =>
        def parts(s: String) = s.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        val (Array(p1, s1), Array(p2, s2)) = (parts(a), parts(b))
        s1 == s2 && p2 >= p1
      case _ => false
    }

  /** Durable name → field-id assignment. Names already bound in ANY prior
    * schema of the export dir keep their ids (loud failure on an
    * incompatible type re-bind); fresh names get consecutive ids above
    * `priorLastColumnId`, which only ever grows — a dropped column's id is
    * never reused. Returns (name → id in schema order, new last-column-id).
    */
  private[tables] def assignFieldIds(
      schema: StructType,
      priorSchemas: Seq[JsonNode],
      priorLastColumnId: Int
  ): (Seq[(String, Int)], Int) = {
    val known = scala.collection.mutable.Map.empty[String, (Int, String)]
    priorSchemas.foreach { s =>
      s.get("fields").elements().asScala.foreach { f =>
        known(f.get("name").asText()) = (f.get("id").asInt(), f.get("type").asText())
      }
    }
    var nextId = math.max(priorLastColumnId, known.values.map(_._1).maxOption.getOrElse(0)) + 1
    val ids = schema.fields.toSeq.map { f =>
      val t = icebergType(f.dataType)
      known.get(f.name) match {
        case Some((id, priorT)) =>
          require(legalPromotion(priorT, t),
            s"iceberg export: column '${f.name}' was exported as $priorT but is now $t — " +
              "re-binding a field id to an incompatible type breaks Iceberg column identity " +
              "for readers time-traveling across retained snapshots; export the replaced " +
              "table to a FRESH export dir instead")
          f.name -> id
        case None =>
          val id = nextId; nextId += 1
          f.name -> id
      }
    }
    (ids, nextId - 1)
  }

  /** Iceberg schema JSON with explicit (durable) field ids. */
  private[tables] def icebergSchemaJson(schema: StructType, ids: Seq[(String, Int)]): String = {
    val byName = ids.toMap
    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", 0)
    val fields = root.putArray("fields")
    schema.fields.foreach { f =>
      val fo = fields.addObject()
      fo.put("id", byName(f.name))
      fo.put("name", f.name)
      fo.put("required", !f.nullable)
      fo.put("type", icebergType(f.dataType))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** `schema.name-mapping.default` JSON (Iceberg name-mapping spec): how
    * engines project data files that carry no parquet/orc field-id
    * metadata — ours, and any migrated table's — by column NAME.
    */
  private[tables] def nameMappingJson(ids: Seq[(String, Int)]): String = {
    val arr = mapper.createArrayNode()
    ids.foreach { case (name, id) =>
      val o = arr.addObject()
      o.put("field-id", id)
      o.putArray("names").add(name)
    }
    arr.toString
  }

  // Avro schemas from the Iceberg spec's manifest-list / manifest tables
  // (field-id properties are what Iceberg readers map columns by).
  private val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","type":["null",{"type":"array","items":{
      |  "type":"record","name":"field_summary","fields":[
      |  {"name":"contains_null","type":"boolean","field-id":509},
      |  {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |  {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |  {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}]},
      |  "element-id":508}],"default":null,"field-id":507}
      |]}""".stripMargin)

  // data_file struct limited to the spec's REQUIRED v2 fields plus
  // equality_ids (all other optional stats fields omitted — legal per
  // spec; readers treat them as unknown). equality_ids is null for data
  // files and names the equality-delete key field ids for content=2
  // (equality delete) files. The `partition` record is per-MANIFEST: a
  // manifest stores files of ONE partition spec, so an unpartitioned
  // (spec 0) manifest writes an empty tuple and a bucket-spec manifest
  // writes {<name>: int|null} (spec rule: a null transform result is a
  // null partition value).
  private def manifestEntrySchemaFor(partitionFields: Seq[(String, Int)]): Schema = {
    val pf = partitionFields.map { case (name, fid) =>
      s"""{"name":"$name","type":["null","int"],"default":null,"field-id":$fid}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","field-id":134},
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pf]}},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],
         |   "default":null,"field-id":135},
         |  {"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record",
         |   "name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},
         |   {"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],
         |   "default":null,"field-id":125},
         |  {"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record",
         |   "name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},
         |   {"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],
         |   "default":null,"field-id":128}
         |]}}
         |]}""".stripMargin)
  }

  private val ManifestEntrySchema: Schema = manifestEntrySchemaFor(Seq.empty)

  /** One live data file: absolute URI, byte length, row count, the
    * table's data sequence number for the commit that wrote it (what
    * equality deletes compare against), and per-column (min, max) from
    * the table's manifest skipping index ([[DataFile.stats]]) — exported
    * as Iceberg `lower_bounds`/`upper_bounds` so external readers prune
    * files the same way [[SnapshotTable.readRange]] does.
    */
  final case class ExportFile(path: String, sizeBytes: Long, recordCount: Long, seq: Long = 0L,
      stats: Map[String, (Double, Double)] = Map.empty,
      // Bucket id under the table's published BucketSpec: [0, n) = a real
      // bucket, n = the null-key partition (partition value null), -1 =
      // unknown layout (adopted foreign file → goes to the unpartitioned
      // spec-0 manifest). Ignored when no BucketSpec is passed.
      bucket: Int = -1)

  /** The table's physical bucket layout, published as the Iceberg
    * partition spec `bucket[n](sourceColumn)`. Only pass this when files
    * are PLACED by the spec's transform ([[graft.sql.IcebergBucket]] —
    * [[SnapshotTable.BucketFnIceberg]] layouts): publishing it over
    * files placed by any other hash would make external readers prune to
    * the wrong files and silently drop rows.
    */
  final case class BucketSpec(sourceColumn: String, n: Int)

  /** One outstanding equality-delete file (always parquet; one column —
    * the merge key). Applies to data files with seq strictly below its
    * own, exactly the spec's v2 sequence-number rule. `bucket` is the
    * delete file's bucket under the table's BucketSpec (engine deletes
    * are bucket-scoped by construction): when the spec is published, the
    * delete manifest carries partition tuples too, so an external reader
    * planning ONE bucket applies only that bucket's delete files instead
    * of every outstanding delete — the same pruning win as on the data
    * side. −1 = unknown → unpartitioned manifest.
    */
  final case class ExportDeleteFile(path: String, sizeBytes: Long, recordCount: Long, seq: Long,
      bucket: Int = -1)

  /** One POSITION-delete file (Iceberg spec "Position Delete Files"): a
    * parquet file of (`file_path` string, `pos` long) rows naming exact
    * rows to suppress. Applies to data files with seq at or below its own
    * (the spec's v2 rule for position deletes — ≤, unlike equality's <).
    * This engine's own merges never produce them ([[SnapshotTable
    * .mergeOnRead]] emits equality deletes), but FOREIGN v2 tables do —
    * the writer accepts them so the read path can be proven against
    * spec-shaped fixtures, and [[readTable]] consumes both kinds.
    */
  final case class ExportPosDeleteFile(path: String, sizeBytes: Long, recordCount: Long, seq: Long)

  /** Exported snapshots retained in the metadata's history window; older
    * entries are pruned with their manifest files (the Iceberg
    * `expire_snapshots` role, applied at export time).
    */
  val KeepSnapshots = 10

  /** Snapshot id currently published by an export dir, if any — the
    * idempotence check a caller runs before building the export inputs.
    */
  def currentExportedSnapshotId(fs: FileSystem, exportDir: Path): Option[Long] = {
    val metaDir = new Path(exportDir, "metadata")
    val hintPath = new Path(metaDir, "version-hint.text")
    if (!fs.exists(hintPath)) None
    else {
      val hint = readText(fs, hintPath).trim
      val metaPath = new Path(metaDir, s"v$hint.metadata.json")
      if (!fs.exists(metaPath)) None
      else Some(mapper.readTree(readText(fs, metaPath)).get("current-snapshot-id").asLong())
    }
  }

  // ----------------------------------------------------------------- write

  /** Everything a prior manifest recorded about one file — used to carry
    * EXISTING entries forward bit-stable and to write DELETED tombstones
    * with the original file record. Bounds ride as the raw Avro values
    * read back (same writer schema, re-appended verbatim).
    */
  private final case class PriorEntry(
      snapshotId: Long, seq: Long, fileSeq: Long,
      recordCount: Long, sizeBytes: Long, fileFormat: String,
      equalityIds: Option[Seq[Int]],
      lowerRaw: AnyRef = null, upperRaw: AnyRef = null,
      content: Int = 0)

  /** Iceberg single-value serialization (spec "Binary single-value
    * serialization") of one min/max stat for a bounds map — little-endian
    * fixed width per primitive. The table's stats index stores min/max as
    * Double; for LONG columns a value above 2^53 may have rounded in
    * either direction, so bounds are SAFELY WIDENED (lower floored minus
    * the representation's ulp, upper ceiled plus it) — a too-wide bound
    * only costs pruning, a too-tight one would make external readers skip
    * files that match. INT doubles are exact. Non-numeric/decimal columns
    * are skipped (no exact round-trip through Double).
    */
  private[graft] def boundBytes(dt: DataType, v: Double, lower: Boolean): Option[Array[Byte]] = {
    def le(n: Int): java.nio.ByteBuffer =
      java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | ShortType | ByteType =>
        val i = math.max(Int.MinValue.toDouble, math.min(Int.MaxValue.toDouble, v)).toInt
        Some(le(4).putInt(i).array())
      case LongType =>
        val widened = if (lower) math.floor(v - Math.ulp(v)) else math.ceil(v + Math.ulp(v))
        val l =
          if (widened <= Long.MinValue.toDouble) Long.MinValue
          else if (widened >= Long.MaxValue.toDouble) Long.MaxValue
          else widened.toLong
        Some(le(8).putLong(l).array())
      case FloatType  => Some(le(4).putFloat(v.toFloat).array())
      case DoubleType => Some(le(8).putDouble(v).array())
      case _          => None
    }
  }

  /** Write the Iceberg v2 metadata tree for one snapshot; returns the new
    * metadata.json path. INCREMENTAL: when the export dir already carries
    * metadata, the new snapshot is appended to its history — vN+1
    * .metadata.json keeps the previous `snapshots` entries (up to
    * [[KeepSnapshots]]; older ones are pruned with their manifest files),
    * links `parent-snapshot-id`, and extends `snapshot-log`/`metadata-log`
    * — so an external Iceberg reader can time-travel across exported
    * commits, not just read the head. Re-exporting the same table version
    * is a no-op (same snapshot id).
    */
  def write(
      fs: FileSystem,
      exportDir: Path,
      schema: StructType,
      snapshotVersion: Long,
      timestampMs: Long,
      files: Seq[ExportFile],
      properties: Map[String, String],
      keepSnapshots: Int = KeepSnapshots,
      fileFormat: String = "PARQUET",
      deletes: Seq[ExportDeleteFile] = Seq.empty,
      equalityDeleteColumn: Option[String] = None,
      posDeletes: Seq[ExportPosDeleteFile] = Seq.empty,
      bucketSpec: Option[BucketSpec] = None
  ): Path = {
    require(deletes.isEmpty || equalityDeleteColumn.nonEmpty,
      "exporting equality-delete files requires the merge-key column name")
    val metaDir = new Path(exportDir, "metadata")
    val snapshotId = snapshotVersion + 1 // Iceberg snapshot ids must be != -1; keep them stable per version
    val seq = snapshotVersion

    // Prior state (incremental export): version counter, retained
    // snapshot entries, the previous metadata file for metadata-log.
    val hintPath = new Path(metaDir, "version-hint.text")
    val prior: Option[(Int, JsonNode)] =
      if (!fs.exists(hintPath)) None
      else {
        val hint = readText(fs, hintPath).trim.toInt
        val p = new Path(metaDir, s"v$hint.metadata.json")
        if (fs.exists(p)) Some((hint, mapper.readTree(readText(fs, p)))) else None
      }
    prior match {
      case Some((hint, meta)) if meta.get("current-snapshot-id").asLong() == snapshotId =>
        return new Path(metaDir, s"v$hint.metadata.json") // already published — no-op
      case _ => ()
    }
    fs.mkdirs(metaDir)
    val priorMeta = prior.map(_._2)

    // Durable field ids: recover the name → id binding from EVERY schema
    // the export dir has ever published (the `schemas` array is
    // append-only), assign fresh ids above last-column-id.
    val priorSchemas: Seq[JsonNode] =
      priorMeta.map(m => m.get("schemas").elements().asScala.toSeq).getOrElse(Seq.empty)
    val priorLastColId = priorMeta.map(_.get("last-column-id").asInt()).getOrElse(0)
    val (fieldIds, lastColId) = assignFieldIds(schema, priorSchemas, priorLastColId)
    val schemaJson = icebergSchemaJson(schema, fieldIds)
    val equalityIds: Option[Seq[Int]] =
      if (deletes.isEmpty) None
      else equalityDeleteColumn.map { c =>
        val byName = fieldIds.toMap
        Seq(byName.getOrElse(c, throw new IllegalArgumentException(
          s"equality-delete column '$c' is not in the exported schema")))
      }

    // What the PARENT snapshot's manifests recorded, per file path — the
    // identity needed to mark carried files EXISTING (original
    // snapshot_id/sequence numbers) and removed files DELETED. One avro
    // manifest read per export, not per file.
    val (priorData, priorDeletes) = priorMeta match {
      case None => (Map.empty[String, PriorEntry], Map.empty[String, PriorEntry])
      case Some(meta) =>
        val parentSnapId = meta.get("current-snapshot-id").asLong()
        val snapNode = meta.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong() == parentSnapId)
        snapNode match {
          case None => (Map.empty[String, PriorEntry], Map.empty[String, PriorEntry])
          case Some(sn) =>
            val d = scala.collection.mutable.Map.empty[String, PriorEntry]
            val del = scala.collection.mutable.Map.empty[String, PriorEntry]
            readAvro(fs, new Path(sn.get("manifest-list").asText())).foreach { mf =>
              val isDeletes = mf.get("content").asInstanceOf[Int] == 1
              readAvro(fs, new Path(mf.get("manifest_path").toString)).foreach { e =>
                if (e.get("status").asInstanceOf[Int] != 2) {
                  val df = e.get("data_file").asInstanceOf[GenericRecord]
                  // optional fields absent from LEGACY manifests (written
                  // before equality_ids/bounds existed) read as null — the
                  // upgrade path an old export dir takes on its first
                  // post-upgrade commit
                  val eq = Option(fieldOrNull(df, "equality_ids")).map(
                    _.asInstanceOf[java.util.List[Integer]].asScala.map(_.toInt).toSeq)
                  val entry = PriorEntry(
                    Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(parentSnapId),
                    Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
                    Option(e.get("file_sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
                    df.get("record_count").asInstanceOf[Long],
                    df.get("file_size_in_bytes").asInstanceOf[Long],
                    df.get("file_format").toString, eq,
                    fieldOrNull(df, "lower_bounds"), fieldOrNull(df, "upper_bounds"),
                    df.get("content").asInstanceOf[Int])
                  (if (isDeletes) del else d)(df.get("file_path").toString) = entry
                }
              }
            }
            (d.toMap, del.toMap)
        }
    }

    // ---- partition spec resolution -------------------------------------
    // Spec 0 (unpartitioned) always exists. A BucketSpec resolves to an
    // existing published spec with identical fields (specs are immutable
    // and append-only — Iceberg spec evolution), or appends a fresh one
    // with the next spec-id and a fresh partition field id.
    val priorSpecs: Seq[JsonNode] =
      priorMeta.flatMap(m => Option(m.get("partition-specs")))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val priorLastPartId = priorMeta.flatMap(m => Option(m.get("last-partition-id")))
      .map(_.asInt()).getOrElse(999)
    // (spec-id, partition field name, partition field id, fields json node)
    val bucketSpecResolved: Option[(Int, String, Int, JsonNode)] = bucketSpec.map { bs =>
      val srcId = fieldIds.toMap.getOrElse(bs.sourceColumn, throw new IllegalArgumentException(
        s"bucket spec source column '${bs.sourceColumn}' is not in the exported schema"))
      val pname = s"${bs.sourceColumn}_bucket"
      val wanted = mapper.createObjectNode()
      wanted.put("name", pname)
      wanted.put("transform", s"bucket[${bs.n}]")
      wanted.put("source-id", srcId)
      val existing = priorSpecs.find { s =>
        val fs0 = s.get("fields").elements().asScala.toSeq
        fs0.size == 1 && fs0.head.get("name").asText() == pname &&
          fs0.head.get("transform").asText() == s"bucket[${bs.n}]" &&
          fs0.head.get("source-id").asInt() == srcId
      }
      existing match {
        case Some(s) =>
          val f = s.get("fields").elements().asScala.next()
          (s.get("spec-id").asInt(), pname, f.get("field-id").asInt(), s)
        case None =>
          val specId = priorSpecs.map(_.get("spec-id").asInt()).maxOption.getOrElse(0) + 1
          val pfid = priorLastPartId + 1
          wanted.put("field-id", pfid)
          val node = mapper.createObjectNode()
          node.put("spec-id", specId)
          node.putArray("fields").add(wanted)
          (specId, pname, pfid, node)
      }
    }
    val lastPartId = math.max(priorLastPartId, bucketSpecResolved.map(_._3).getOrElse(999))

    val bucketedEntrySchema = bucketSpecResolved.map { case (_, pname, pfid, _) =>
      manifestEntrySchemaFor(Seq((pname, pfid)))
    }
    val dataFileSchema = ManifestEntrySchema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()

    val lowerArraySchema = dataFileSchema.getField("lower_bounds").schema().getTypes.get(1)
    val upperArraySchema = dataFileSchema.getField("upper_bounds").schema().getTypes.get(1)

    /** Manifest bounds maps from the table's per-file (min, max) stats:
      * field-id-keyed single-value-serialized bytes (safe-widened, see
      * [[boundBytes]]) — what lets an external Iceberg reader prune files
      * before opening them.
      */
    def boundsOf(stats: Map[String, (Double, Double)]): (AnyRef, AnyRef) = {
      if (stats.isEmpty) return (null, null)
      val byName = fieldIds.toMap
      val lo = new GenericData.Array[GenericRecord](stats.size, lowerArraySchema)
      val hi = new GenericData.Array[GenericRecord](stats.size, upperArraySchema)
      stats.foreach { case (name, (mn, mx)) =>
        schema.fields.find(_.name.equalsIgnoreCase(name)).foreach { f =>
          byName.get(f.name).foreach { id =>
            boundBytes(f.dataType, mn, lower = true).foreach { b =>
              val r = new GenericData.Record(lowerArraySchema.getElementType)
              r.put("key", id); r.put("value", java.nio.ByteBuffer.wrap(b)); lo.add(r)
            }
            boundBytes(f.dataType, mx, lower = false).foreach { b =>
              val r = new GenericData.Record(upperArraySchema.getElementType)
              r.put("key", id); r.put("value", java.nio.ByteBuffer.wrap(b)); hi.add(r)
            }
          }
        }
      }
      (if (lo.isEmpty) null else lo, if (hi.isEmpty) null else hi)
    }

    def entryRecord(status: Int, snapId: Long, entrySeq: Long, fileSeq: Long,
        content: Int, path: String, format: String, recordCount: Long, sizeBytes: Long,
        eqIds: Option[Seq[Int]], bounds: (AnyRef, AnyRef) = (null, null),
        entrySchema: Schema = ManifestEntrySchema,
        partitionValue: Option[Option[Int]] = None): GenericRecord = {
      val dfs = entrySchema.getField("data_file").schema()
      val ps = dfs.getField("partition").schema()
      val df = new GenericData.Record(dfs)
      df.put("content", content)
      df.put("file_path", path)
      df.put("file_format", format)
      val pRec = new GenericData.Record(ps)
      partitionValue.foreach(v => pRec.put(0, v.map(Integer.valueOf).orNull))
      df.put("partition", pRec)
      df.put("record_count", recordCount)
      df.put("file_size_in_bytes", sizeBytes)
      df.put("equality_ids", eqIds.map(_.map(Integer.valueOf).asJava).orNull)
      df.put("lower_bounds", bounds._1)
      df.put("upper_bounds", bounds._2)
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", entrySeq)
      e.put("file_sequence_number", fileSeq)
      e.put("data_file", df)
      e
    }

    /** Write one manifest avro (data or deletes) and return
      * (path, length, counts, min_sequence_number). The writer meta
      * carries the manifest's OWN partition spec (fields json + id) —
      * a manifest stores files of exactly one spec.
      */
    def writeManifest(suffix: String, contentMeta: String,
        entries: Seq[(Int, GenericRecord, Long, Long)],
        entrySchema: Schema = ManifestEntrySchema,
        specId: Int = 0,
        specFieldsJson: String = "[]"): (Path, Long, (Int, Int, Int), (Long, Long, Long), Long) = {
      val manifestPath = fs.makeQualified(new Path(metaDir, s"${UUID.randomUUID()}-$suffix.avro"))
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      writer.setMeta("schema", schemaJson)
      writer.setMeta("schema-id", "0")
      writer.setMeta("partition-spec", specFieldsJson)
      writer.setMeta("partition-spec-id", specId.toString)
      writer.setMeta("format-version", "2")
      writer.setMeta("content", contentMeta)
      val out = fs.create(manifestPath, true)
      writer.create(entrySchema, out)
      entries.foreach { case (_, r, _, _) => writer.append(r) }
      writer.close()
      val added = entries.count(_._1 == 1)
      val existing = entries.count(_._1 == 0)
      val deleted = entries.count(_._1 == 2)
      def rowsOf(st: Int) = entries.filter(_._1 == st).map(_._3).sum
      val minSeq = entries.map(_._4).minOption.getOrElse(seq)
      (manifestPath, fs.getFileStatus(manifestPath).getLen,
        (added, existing, deleted), (rowsOf(1), rowsOf(0), rowsOf(2)), minSeq)
    }

    // 1. data manifests: carried files EXISTING with their ORIGINAL
    // snapshot_id/sequence numbers, new files ADDED at this commit,
    // removed files DELETED tombstones — so incremental-append / CDC
    // consumers never double-count across snapshots.
    //
    // Under a BucketSpec, files whose bucket is KNOWN go to a manifest of
    // the bucket spec with their partition tuple ({<col>_bucket: b}, or a
    // null value for the null-key bucket b == n); adopted files (bucket
    // −1, arbitrary key placement) and DELETED tombstones stay in an
    // UNPARTITIONED (spec 0) manifest — an empty tuple claims nothing, a
    // wrong tuple would make external readers prune to the wrong files.
    val newPaths = files.map(_.path).toSet
    def dataEntry(f: ExportFile, schemaFor: Schema, pv: Option[Option[Int]])
        : (Int, GenericRecord, Long, Long) =
      priorData.get(f.path) match {
        case Some(pe) =>
          (0, entryRecord(0, pe.snapshotId, pe.seq, pe.fileSeq, 0, f.path, pe.fileFormat,
            pe.recordCount, pe.sizeBytes, None, (pe.lowerRaw, pe.upperRaw), schemaFor, pv),
            pe.recordCount, pe.seq)
        case None =>
          (1, entryRecord(1, snapshotId, f.seq, f.seq, 0, f.path, fileFormat,
            f.recordCount, f.sizeBytes, None, boundsOf(f.stats), schemaFor, pv),
            f.recordCount, f.seq)
      }
    val (bucketedFiles, plainFiles) = bucketSpecResolved match {
      case Some(_) => files.partition(_.bucket >= 0)
      case None    => (Seq.empty[ExportFile], files)
    }
    val bucketedEntries: Seq[(Int, GenericRecord, Long, Long)] =
      bucketSpecResolved.toSeq.flatMap { case (_, _, _, _) =>
        val es = bucketedEntrySchema.get
        bucketedFiles.map { f =>
          val pv: Option[Int] = if (f.bucket == bucketSpec.get.n) None else Some(f.bucket)
          dataEntry(f, es, Some(pv))
        }
      }
    // DELETED tombstones keep the file's OWN data sequence numbers (a
    // file's sequence never changes after it is added — the spec's
    // inheritance rule); the REMOVING commit is identified by
    // snapshot_id, so sequence-based reasoning over removed files stays
    // consistent with min_sequence_number below.
    val plainEntries: Seq[(Int, GenericRecord, Long, Long)] =
      plainFiles.map(f => dataEntry(f, ManifestEntrySchema, None)) ++
      priorData.collect { case (path, pe) if !newPaths.contains(path) =>
        (2, entryRecord(2, snapshotId, pe.seq, pe.fileSeq, 0, path, pe.fileFormat,
          pe.recordCount, pe.sizeBytes, None, (pe.lowerRaw, pe.upperRaw)), pe.recordCount, pe.seq)
      }
    val bucketedManifest = bucketSpecResolved.flatMap { case (specId, _, _, node) =>
      if (bucketedEntries.isEmpty) None
      else Some(writeManifest("m0", "data", bucketedEntries, bucketedEntrySchema.get,
        specId, node.get("fields").toString))
    }
    // the plain manifest always exists when it has entries, and also when
    // NOTHING else does (a reader needs at least one data manifest row)
    val plainManifest =
      if (plainEntries.nonEmpty || bucketedManifest.isEmpty)
        Some(writeManifest(if (bucketedManifest.isEmpty) "m0" else "m2", "data", plainEntries))
      else None
    // aggregate counts across the data manifests (snapshot summary below)
    val dataManifests = bucketedManifest.toSeq ++ plainManifest.toSeq
    val mAdd = dataManifests.map(_._3._1).sum
    val mDel = dataManifests.map(_._3._3).sum
    val mAddRows = dataManifests.map(_._4._1).sum
    val mDelRows = dataManifests.map(_._4._3).sum

    // 2. delete manifest (content=1), only when this snapshot or its
    // parent carries delete files. Equality deletes are content=2
    // data_file entries (with equality_ids); position deletes content=1
    // (file_path/pos rows, no equality ids). Carried entries keep their
    // original content kind.
    // Equality deletes with a KNOWN bucket ride a delete manifest of the
    // bucket spec (with partition tuples), mirroring the data side: an
    // external reader planning one bucket then applies only that bucket's
    // delete files instead of the whole outstanding set. Unknown-bucket
    // entries (position deletes, carried legacy entries) stay spec-0 —
    // an unpartitioned (global) delete is always CORRECT, just less
    // prunable.
    val newDelPaths = deletes.map(_.path).toSet ++ posDeletes.map(_.path)
    def eqEntry(d: ExportDeleteFile, schemaFor: Schema, pv: Option[Option[Int]])
        : (Int, GenericRecord, Long, Long) =
      priorDeletes.get(d.path) match {
        case Some(pe) =>
          (0, entryRecord(0, pe.snapshotId, pe.seq, pe.fileSeq, 2, d.path, "PARQUET",
            pe.recordCount, pe.sizeBytes, pe.equalityIds.orElse(equalityIds),
            entrySchema = schemaFor, partitionValue = pv), pe.recordCount, pe.seq)
        case None =>
          (1, entryRecord(1, snapshotId, d.seq, d.seq, 2, d.path, "PARQUET",
            d.recordCount, d.sizeBytes, equalityIds,
            entrySchema = schemaFor, partitionValue = pv), d.recordCount, d.seq)
      }
    val (bucketedDels, plainDels) = bucketSpecResolved match {
      case Some(_) => deletes.partition(_.bucket >= 0)
      case None    => (Seq.empty[ExportDeleteFile], deletes)
    }
    val bucketedDelEntries = bucketedDels.map { d =>
      val pv: Option[Int] = if (d.bucket == bucketSpec.get.n) None else Some(d.bucket)
      eqEntry(d, bucketedEntrySchema.get, Some(pv))
    }
    val plainDelEntries: Seq[(Int, GenericRecord, Long, Long)] =
      plainDels.map(d => eqEntry(d, ManifestEntrySchema, None)) ++
      posDeletes.map { d =>
        priorDeletes.get(d.path) match {
          case Some(pe) =>
            (0, entryRecord(0, pe.snapshotId, pe.seq, pe.fileSeq, 1, d.path, "PARQUET",
              pe.recordCount, pe.sizeBytes, None), pe.recordCount, pe.seq)
          case None =>
            (1, entryRecord(1, snapshotId, d.seq, d.seq, 1, d.path, "PARQUET",
              d.recordCount, d.sizeBytes, None), d.recordCount, d.seq)
        }
      } ++
      priorDeletes.collect { case (path, pe) if !newDelPaths.contains(path) =>
        (2, entryRecord(2, snapshotId, pe.seq, pe.fileSeq,
          if (pe.content == 0) 2 else pe.content, // legacy eq manifests predate the content read
          path, "PARQUET", pe.recordCount, pe.sizeBytes, pe.equalityIds), pe.recordCount, pe.seq)
      }
    val bucketedDelManifest = bucketSpecResolved.flatMap { case (specId, _, _, node) =>
      if (bucketedDelEntries.isEmpty) None
      else Some(writeManifest("m1", "deletes", bucketedDelEntries, bucketedEntrySchema.get,
        specId, node.get("fields").toString))
    }
    val deleteManifest =
      if (plainDelEntries.isEmpty) None
      else Some(writeManifest(if (bucketedDelManifest.isEmpty) "m1" else "m3", "deletes",
        plainDelEntries))

    // 3. manifest list: the data manifest_file row [+ the delete one].
    val listPath = fs.makeQualified(new Path(metaDir, s"snap-$snapshotId-manifest-list.avro"))
    val listDatum = new GenericDatumWriter[GenericRecord](ManifestFileSchema)
    val listWriter = new DataFileWriter[GenericRecord](listDatum)
    listWriter.setMeta("snapshot-id", snapshotId.toString)
    listWriter.setMeta("sequence-number", seq.toString)
    listWriter.setMeta("format-version", "2")
    val lOut = fs.create(listPath, true)
    listWriter.create(ManifestFileSchema, lOut)
    def listRow(p: Path, len: Long, content: Int, counts: (Int, Int, Int),
        rows: (Long, Long, Long), minSeq: Long, specId: Int = 0,
        summary: AnyRef = null): GenericRecord = {
      val mf = new GenericData.Record(ManifestFileSchema)
      mf.put("manifest_path", p.toString)
      mf.put("manifest_length", len)
      mf.put("partition_spec_id", specId)
      mf.put("content", content)
      mf.put("sequence_number", seq)
      mf.put("min_sequence_number", minSeq)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_files_count", counts._1)
      mf.put("existing_files_count", counts._2)
      mf.put("deleted_files_count", counts._3)
      mf.put("added_rows_count", rows._1)
      mf.put("existing_rows_count", rows._2)
      mf.put("deleted_rows_count", rows._3)
      mf.put("partitions", summary)
      mf
    }
    // field summary for the bucketed manifest: contains_null flags the
    // null-key partition, bounds are the single-value-serialized (4-byte
    // LE int) min/max bucket — what lets engines skip whole MANIFESTS
    // before opening them
    def bucketSummary: AnyRef = {
      val arrSchema = ManifestFileSchema.getField("partitions").schema().getTypes.get(1)
      val rec = new GenericData.Record(arrSchema.getElementType)
      val n = bucketSpec.get.n
      rec.put("contains_null", bucketedFiles.exists(_.bucket == n))
      rec.put("contains_nan", java.lang.Boolean.FALSE)
      val real = bucketedFiles.map(_.bucket).filter(_ < n)
      def le4(v: Int) = java.nio.ByteBuffer.wrap(
        java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array())
      rec.put("lower_bound", real.minOption.map(le4).orNull)
      rec.put("upper_bound", real.maxOption.map(le4).orNull)
      val arr = new GenericData.Array[GenericRecord](1, arrSchema)
      arr.add(rec)
      arr
    }
    bucketedManifest.foreach { case (p, len, counts, rows, minSeq) =>
      listWriter.append(listRow(p, len, 0, counts, rows, minSeq,
        specId = bucketSpecResolved.get._1, summary = bucketSummary))
    }
    plainManifest.foreach { case (p, len, counts, rows, minSeq) =>
      listWriter.append(listRow(p, len, 0, counts, rows, minSeq))
    }
    // bucketed delete manifest first (spec id + field summary), then the
    // unpartitioned one (position deletes, carried legacy entries)
    def delSummary: AnyRef = {
      val arrSchema = ManifestFileSchema.getField("partitions").schema().getTypes.get(1)
      val rec = new GenericData.Record(arrSchema.getElementType)
      val n = bucketSpec.get.n
      rec.put("contains_null", bucketedDels.exists(_.bucket == n))
      rec.put("contains_nan", java.lang.Boolean.FALSE)
      val real = bucketedDels.map(_.bucket).filter(_ < n)
      def le4(v: Int) = java.nio.ByteBuffer.wrap(
        java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array())
      rec.put("lower_bound", real.minOption.map(le4).orNull)
      rec.put("upper_bound", real.maxOption.map(le4).orNull)
      val arr = new GenericData.Array[GenericRecord](1, arrSchema)
      arr.add(rec)
      arr
    }
    bucketedDelManifest.foreach { case (p, len, counts, rows, minSeq) =>
      listWriter.append(listRow(p, len, 1, counts, rows, minSeq,
        specId = bucketSpecResolved.get._1, summary = delSummary))
    }
    deleteManifest.foreach { case (p, len, counts, rows, minSeq) =>
      listWriter.append(listRow(p, len, 1, counts, rows, minSeq))
    }
    listWriter.close()

    // 4. metadata.json (TableMetadata, format-version 2). Schema identity:
    // the schema whose field list matches keeps its schema-id; a widened
    // schema (ADD COLUMN) gets a fresh id appended to `schemas`. Field
    // ids inside the lists are durable (assignFieldIds), so equal logical
    // schemas serialize identically.
    val newVersion = prior.map(_._1 + 1).getOrElse(1)
    val schemaJsonNode = mapper.readTree(schemaJson)
    def fieldsOf(n: JsonNode): Seq[String] =
      n.get("fields").elements().asScala.map(_.toString).toSeq
    val matching = priorSchemas.find(s => fieldsOf(s) == fieldsOf(schemaJsonNode))
    val schemaId = matching.map(_.get("schema-id").asInt())
      .getOrElse(priorSchemas.map(_.get("schema-id").asInt()).maxOption.map(_ + 1).getOrElse(0))
    ((schemaJsonNode): @unchecked) match {
      case o: ObjectNode => o.put("schema-id", schemaId)
    }
    val allSchemas = if (matching.isDefined) priorSchemas else priorSchemas :+ schemaJsonNode

    // retained prior snapshots (newest keepSnapshots - 1, so the new one fits)
    val priorSnaps: Seq[JsonNode] =
      priorMeta.map(m => m.get("snapshots").elements().asScala.toSeq).getOrElse(Seq.empty)
    val retained = priorSnaps.takeRight(math.max(0, keepSnapshots - 1))
    val pruned = priorSnaps.dropRight(math.max(0, keepSnapshots - 1))
    val parentId = priorMeta.map(_.get("current-snapshot-id").asLong())

    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid",
      priorMeta.map(_.get("table-uuid").asText()).getOrElse(UUID.nameUUIDFromBytes(
        exportDir.toString.getBytes(StandardCharsets.UTF_8)).toString))
    root.put("location", fs.makeQualified(exportDir).toString)
    root.put("last-sequence-number", seq)
    root.put("last-updated-ms", timestampMs)
    root.put("last-column-id", lastColId)
    root.put("current-schema-id", schemaId)
    val schemasArr = root.putArray("schemas")
    allSchemas.foreach(schemasArr.add)
    // partition-specs are append-only (spec evolution): prior specs are
    // carried verbatim, spec 0 (unpartitioned — adopted files, tombstone
    // manifests) always exists, and a resolved BucketSpec either reuses
    // its existing entry or appends itself under a fresh spec-id
    root.put("default-spec-id", bucketSpecResolved.map(_._1).getOrElse(0))
    val specs = root.putArray("partition-specs")
    if (!priorSpecs.exists(_.get("spec-id").asInt() == 0)) {
      val spec0 = specs.addObject()
      spec0.put("spec-id", 0)
      spec0.putArray("fields")
    }
    priorSpecs.foreach(specs.add)
    bucketSpecResolved.foreach { case (sid, _, _, node) =>
      if (!priorSpecs.exists(_.get("spec-id").asInt() == sid)) specs.add(node)
    }
    root.put("last-partition-id", lastPartId) // partition field ids start at 1000
    // Declare the table's write-time sort (`write.sort.order`, the
    // reference's CREATE TABLE sortedBy) as an Iceberg sort order:
    // SnapshotTable.writePartitions sorts within partitions by exactly these columns
    // ascending (Spark's default asc = nulls-first, matching the
    // declared null-order), so external engines can plan merge-on-sorted
    // reads honestly. Order 0 (unsorted) is always present for snapshots
    // predating the property.
    val sortCols = properties.get("write.sort.order").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val sortFieldIds = {
      val byName = fieldIds.toMap
      sortCols.map(c => byName.getOrElse(c, throw new IllegalArgumentException(
        s"write.sort.order column '$c' is not in the exported schema")))
    }
    root.put("default-sort-order-id", if (sortFieldIds.nonEmpty) 1 else 0)
    val orders = root.putArray("sort-orders")
    val order0 = orders.addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    if (sortFieldIds.nonEmpty) {
      val order1 = orders.addObject()
      order1.put("order-id", 1)
      val fieldsArr = order1.putArray("fields")
      sortFieldIds.foreach { id =>
        val f = fieldsArr.addObject()
        f.put("transform", "identity")
        f.put("source-id", id)
        f.put("direction", "asc")
        f.put("null-order", "nulls-first")
      }
    }
    val props = root.putObject("properties")
    // Engine layout hints re-expressed under Iceberg's OWN property names
    // (Iceberg spec / reference implementation write properties), so an
    // external WRITER — Trino/Spark INSERTing into this table through a
    // catalog — continues the physical layout instead of silently
    // abandoning it: per-column parquet bloom filters and the default
    // write format. (The sort order is already declared structurally via
    // sort-orders above; the engine-prefixed originals stay too.)
    val conventionProps: Map[String, String] =
      properties.get("write.bloom.columns").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        .map(c => s"write.parquet.bloom-filter-enabled.column.$c" -> "true").toMap ++
        properties.get("write.format").map(f => "write.format.default" -> f)
    (properties ++ conventionProps +
      ("schema.name-mapping.default" -> nameMappingJson(fieldIds)))
      .foreach { case (k, v) => props.put(k, v) }
    root.put("current-snapshot-id", snapshotId)
    val refs = root.putObject("refs")
    val mainRef = refs.putObject("main")
    mainRef.put("snapshot-id", snapshotId)
    mainRef.put("type", "branch")
    val snaps = root.putArray("snapshots")
    retained.foreach(snaps.add)
    val s0 = snaps.addObject()
    s0.put("sequence-number", seq)
    s0.put("snapshot-id", snapshotId)
    parentId.foreach(p => s0.put("parent-snapshot-id", p))
    s0.put("timestamp-ms", timestampMs)
    val summary = s0.putObject("summary")
    // `overwrite` whenever the commit removed files or added row-level
    // deletes; plain `append` only when it purely added data files —
    // incremental-append consumers rely on this classification.
    val isOverwrite = mDel > 0 ||
      (bucketedDelEntries ++ plainDelEntries).exists(_._1 != 0)
    summary.put("operation", if (isOverwrite) "overwrite" else "append")
    summary.put("added-data-files", mAdd.toString)
    summary.put("added-records", mAddRows.toString)
    if (mDel > 0) {
      summary.put("deleted-data-files", mDel.toString)
      summary.put("deleted-records", mDelRows.toString)
    }
    val delManifests = bucketedDelManifest.toSeq ++ deleteManifest.toSeq
    if (delManifests.nonEmpty) {
      val dAdd = delManifests.map(_._3._1).sum
      if (dAdd > 0) summary.put("added-delete-files", dAdd.toString)
      val eqNew = deletes.filterNot(d => priorDeletes.contains(d.path))
      if (eqNew.nonEmpty) {
        summary.put("added-equality-delete-files", eqNew.size.toString)
        summary.put("added-equality-deletes", eqNew.map(_.recordCount).sum.toString)
      }
      val posNew = posDeletes.filterNot(d => priorDeletes.contains(d.path))
      if (posNew.nonEmpty) {
        summary.put("added-position-delete-files", posNew.size.toString)
        summary.put("added-position-deletes", posNew.map(_.recordCount).sum.toString)
      }
    }
    s0.put("manifest-list", listPath.toString)
    s0.put("schema-id", schemaId)
    root.putArray("statistics")
    // history logs: append this commit, trim to the retention window
    val priorSnapLog: Seq[JsonNode] =
      priorMeta.flatMap(m => Option(m.get("snapshot-log")))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val snapLog = root.putArray("snapshot-log")
    priorSnapLog.takeRight(math.max(0, keepSnapshots - 1)).foreach(snapLog.add)
    val sl = snapLog.addObject()
    sl.put("timestamp-ms", timestampMs)
    sl.put("snapshot-id", snapshotId)
    val priorMetaLog: Seq[JsonNode] =
      priorMeta.flatMap(m => Option(m.get("metadata-log")))
        .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val metaLog = root.putArray("metadata-log")
    // keep-2: the retained metadata FILES are v(newVersion-keep+1)..vN, and
    // the log only lists PRIOR files — one fewer than the file window, or
    // the log's oldest entry would name the file pruned below
    priorMetaLog.takeRight(math.max(0, keepSnapshots - 2)).foreach(metaLog.add)
    prior.foreach { case (hint, _) =>
      val ml = metaLog.addObject()
      ml.put("timestamp-ms", timestampMs)
      ml.put("metadata-file", fs.makeQualified(new Path(metaDir, s"v$hint.metadata.json")).toString)
    }

    val metadataPath = new Path(metaDir, s"v$newVersion.metadata.json")
    writeText(fs, metadataPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    // version-hint is the ONLY file mutated in place — publish it
    // atomically (temp + rename-overwrite, Iceberg's own
    // HadoopTableOperations convention) so a racing reader never sees a
    // truncated hint; every other artifact is a fresh vN+1 file invisible
    // until the hint names it.
    val hintTmp = new Path(metaDir, s"version-hint.tmp.${UUID.randomUUID()}")
    writeText(fs, hintTmp, newVersion.toString)
    AtomicRename.overwrite(fs,
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration).getOrElse(fs.getConf),
      hintTmp, hintPath)

    // prune manifests of snapshots that fell out of the history window
    // (manifest lists and manifests are per-snapshot here, never shared)
    pruned.foreach { sn =>
      val lp = new Path(sn.get("manifest-list").asText())
      try {
        if (fs.exists(lp)) {
          readAvro(fs, lp).foreach { mf =>
            val mp = new Path(mf.get("manifest_path").toString)
            if (fs.exists(mp)) fs.delete(mp, false)
          }
          fs.delete(lp, false)
        }
      } catch { case scala.util.control.NonFatal(_) => () } // pruning is best-effort
    }
    // Old metadata.json files beyond the window go too (metadata-log is
    // already trimmed to match). Only the newly-expiring version — plus a
    // small catch-up margin for previously-failed deletes — is probed:
    // scanning from v1 would cost O(total commits) fs.exists calls per
    // commit on a long-lived per-commit exporter.
    val newestExpired = newVersion - keepSnapshots
    (math.max(1, newestExpired - 3) to newestExpired).foreach { v =>
      val p = new Path(metaDir, s"v$v.metadata.json")
      if (fs.exists(p)) fs.delete(p, false)
    }
    metadataPath
  }

  // ------------------------------------------------------------------ read

  private[graft] def readVersionHint(fs: FileSystem, exportDir: Path): String =
    readText(fs, new Path(new Path(exportDir, "metadata"), "version-hint.text")).trim

  /** One data file resolved through the chain, with its manifest skipping
    * index: `lower`/`upper` are the Iceberg single-value-serialized
    * min/max bytes keyed by FIELD ID, exactly as the manifest stores them
    * (empty when the writer exported no bounds for the file).
    */
  final case class ManifestDataFile(path: String, recordCount: Long, seq: Long, fileFormat: String,
      lower: Map[Int, Array[Byte]] = Map.empty, upper: Map[Int, Array[Byte]] = Map.empty,
      // partition tuple as the manifest stores it: field name → value
      // (null value = the transform returned null, e.g. the null-key
      // bucket); empty for entries of an unpartitioned manifest
      partition: Map[String, Option[Int]] = Map.empty,
      // the spec's mandatory file_size_in_bytes — lets the read scan
      // skip Spark's file listing (−1 = written by a pre-field caller,
      // read falls back to the listing scan)
      sizeBytes: Long = -1L)

  /** One delete file resolved through the chain. `content` is the spec's
    * data_file content kind: 2 = equality deletes (with
    * `equalityFieldIds`), 1 = position deletes (file_path/pos rows).
    */
  final case class ManifestDeleteFile(
      path: String, seq: Long, equalityFieldIds: Seq[Int], content: Int = 2,
      sizeBytes: Long = -1L)

  /** Follow the Iceberg metadata chain exactly as an external reader does
    * — version-hint → vN.metadata.json → a snapshot's manifest list →
    * manifests → files (status != DELETED(2)) — returning live data files
    * and live equality-delete files with their sequence numbers. Reads
    * the CURRENT snapshot by default; pass `atSnapshotId` to time-travel
    * to any snapshot retained in the export's history window.
    */
  /** ONE resolution of version-hint → parsed metadata.json. Every
    * multi-step reader loads this once and threads the parsed tree —
    * re-resolving the hint between steps would race a concurrent
    * per-commit exporter (schema from vN, files from vN+1; or a pruned
    * vN.metadata.json mid-read).
    */
  private def loadMeta(fs: FileSystem, exportDir: Path): JsonNode = {
    val metaDir = new Path(exportDir, "metadata")
    val meta = mapper.readTree(
      readText(fs, new Path(metaDir, s"v${readVersionHint(fs, exportDir)}.metadata.json")))
    require(meta.get("format-version").asInt() == 2, "expected format-version 2")
    meta
  }

  /** The export's filesystem and its ONE metadata resolution for a read. */
  private def openMeta(spark: SparkSession, exportDir: String): (FileSystem, JsonNode) = {
    val p = new Path(exportDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, loadMeta(fs, p))
  }

  def readFiles(
      fs: FileSystem, exportDir: Path, atSnapshotId: Option[Long] = None
  ): (Seq[ManifestDataFile], Seq[ManifestDeleteFile]) =
    readFilesFrom(fs, loadMeta(fs, exportDir), atSnapshotId)

  private def readFilesFrom(
      fs: FileSystem, meta: JsonNode, atSnapshotId: Option[Long]
  ): (Seq[ManifestDataFile], Seq[ManifestDeleteFile]) = {
    val currentId = atSnapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snapNode = {
      val it = meta.get("snapshots").elements()
      var found: JsonNode = null
      while (it.hasNext && found == null) {
        val n = it.next()
        if (n.get("snapshot-id").asLong() == currentId) found = n
      }
      require(found != null, s"current-snapshot-id $currentId not in snapshots")
      found
    }
    val data = Seq.newBuilder[ManifestDataFile]
    val dels = Seq.newBuilder[ManifestDeleteFile]
    readAvro(fs, new Path(snapNode.get("manifest-list").asText())).foreach { mf =>
      val isDeletes = mf.get("content").asInstanceOf[Int] == 1
      readAvro(fs, new Path(mf.get("manifest_path").toString)).foreach { e =>
        if (e.get("status").asInstanceOf[Int] != 2) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val seq = Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L)
          if (isDeletes || df.get("content").asInstanceOf[Int] != 0) {
            val eq = Option(fieldOrNull(df, "equality_ids"))
              .map(_.asInstanceOf[java.util.List[Integer]].asScala.map(_.toInt).toSeq)
              .getOrElse(Seq.empty)
            // content 0 inside a delete manifest = a legacy equality
            // manifest written before the content column was populated
            val c = df.get("content").asInstanceOf[Int] match {
              case 0 => 2
              case k => k
            }
            dels += ManifestDeleteFile(df.get("file_path").toString, seq, eq, c,
              df.get("file_size_in_bytes").asInstanceOf[Long])
          } else {
            val pt = Option(fieldOrNull(df, "partition")).map(_.asInstanceOf[GenericRecord])
              .map { pr =>
                pr.getSchema.getFields.asScala.map { f =>
                  f.name() -> Option(pr.get(f.pos())).map(_.asInstanceOf[Int])
                }.toMap
              }.getOrElse(Map.empty[String, Option[Int]])
            data += ManifestDataFile(df.get("file_path").toString,
              df.get("record_count").asInstanceOf[Long], seq, df.get("file_format").toString,
              boundsMapOf(fieldOrNull(df, "lower_bounds")),
              boundsMapOf(fieldOrNull(df, "upper_bounds")), pt,
              df.get("file_size_in_bytes").asInstanceOf[Long])
          }
        }
      }
    }
    (data.result(), dels.result())
  }

  /** Live data files as `(file_path, record_count)` — the historical
    * shape used by gates that read a delete-free snapshot.
    */
  def readDataFiles(
      fs: FileSystem, exportDir: Path, atSnapshotId: Option[Long] = None): Seq[(String, Long)] =
    readFiles(fs, exportDir, atSnapshotId)._1.map(d => (d.path, d.recordCount))

  /** Field id → column name across EVERY schema the export has published
    * — how a reader resolves `equality_ids` to delete-file columns. The
    * union is safe and necessary: field ids are durable (one name per id,
    * enforced at write time), and a TIME-TRAVELING reader may hit delete
    * files whose key field id was dropped from the current schema by a
    * later replace — only an older schema still names it.
    */
  private def schemaIdToNameFrom(meta: JsonNode): Map[Int, String] =
    meta.get("schemas").elements().asScala.flatMap { s =>
      s.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText())
    }.toMap

  /** Spark schema of a snapshot as the METADATA declares it: the
    * snapshot's own `schema-id` resolved against `schemas` (falling back
    * to the current schema for writers that omit per-snapshot ids), types
    * mapped by [[sparkType]]. This is schema-on-metadata, not
    * schema-on-caller — required to consume a foreign Iceberg table.
    */
  def readSchema(fs: FileSystem, exportDir: Path, atSnapshotId: Option[Long] = None): StructType =
    readSchemaFrom(loadMeta(fs, exportDir), atSnapshotId)

  /** The snapshot's own schema node (the current one for writers that
    * omit per-snapshot ids).
    */
  private def schemaNodeFrom(meta: JsonNode, atSnapshotId: Option[Long]): JsonNode = {
    val schemaId = atSnapshotId.flatMap { sid =>
      meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == sid)
        .flatMap(sn => Option(sn.get("schema-id")).map(_.asInt()))
    }.getOrElse(meta.get("current-schema-id").asInt())
    meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId)
      .getOrElse(sys.error(s"schema-id $schemaId not in schemas"))
  }

  private def readSchemaFrom(meta: JsonNode, atSnapshotId: Option[Long]): StructType =
    StructType(schemaNodeFrom(meta, atSnapshotId).get("fields").elements().asScala.map { f =>
      val name = f.get("name").asText()
      val typeNode = f.get("type")
      require(typeNode.isTextual,
        s"column '$name': nested Iceberg types (struct/list/map) are not supported by this " +
          s"reader — it serves the flat-schema tables this engine produces")
      StructField(name, sparkType(typeNode.asText()),
        nullable = !Option(f.get("required")).exists(_.asBoolean(false)))
    }.toSeq)

  /** Consume an Iceberg v2 table (ours or a FOREIGN engine's filesystem
    * table) end-to-end from its metadata alone: version-hint →
    * metadata.json → snapshot schema ([[readSchema]]) → manifests →
    * data files with BOTH v2 row-level delete kinds applied
    * ([[readLiveRows]]): equality deletes (what this engine's own
    * merge-on-read commits export) and position deletes (what foreign
    * engines' MERGE/DELETE typically write).
    */
  def readTable(spark: SparkSession, exportDir: String,
      atSnapshotId: Option[Long] = None): DataFrame = {
    // one hint resolution for the WHOLE read: schema, file listing and
    // equality-id resolution all come from the same metadata version, so
    // a concurrent per-commit exporter (or its pruning) cannot hand this
    // reader a schema from vN and files from vN+1
    val (fs, meta) = openMeta(spark, exportDir)
    readLiveRowsFrom(spark, fs, meta, readSchemaFrom(meta, atSnapshotId), atSnapshotId)
  }

  /** Iceberg single-value-serialized bound bytes → Double for range
    * comparison (inverse of [[boundBytes]] on the numeric types it
    * writes). Returns None for types/lengths this pruner does not reason
    * about — the file is then kept (bound absence is "no evidence").
    */
  private[graft] def decodeBound(t: String, bytes: Array[Byte]): Option[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t match {
      case "int" if bytes.length == 4     => Some(bb.getInt.toDouble)
      case "long" if bytes.length == 8    => Some(bb.getLong.toDouble)
      case "float" if bytes.length == 4   => Some(bb.getFloat.toDouble)
      case "double" if bytes.length == 8  => Some(bb.getDouble)
      case _                              => None
    }
  }

  /** Range scan THROUGH the export metadata with manifest-level file
    * skipping — [[SnapshotTable.readRange]]'s exact semantics applied the
    * way an external Iceberg reader would: `readTable(...).where(lo <= c
    * <= hi)`, but data files whose manifest `lower_bounds`/`upper_bounds`
    * for `c` cannot intersect [lo, hi] are dropped from the listing
    * BEFORE Spark plans the scan — no footer open, no task. Files
    * without a bound for `c` are always kept (bounds absence means "no
    * evidence", never "no match"), so results stay exact on mixed
    * manifests, and row-level deletes still apply to the kept rows. The
    * residual predicate is the same typed-literal form readRange builds,
    * so parquet row-group pruning survives inside kept files.
    */
  def readTableRange(spark: SparkSession, exportDir: String,
      column: String, lo: Double, hi: Double,
      atSnapshotId: Option[Long] = None): DataFrame = {
    val (fs, meta) = openMeta(spark, exportDir)
    val schema = readSchemaFrom(meta, atSnapshotId)
    val field = schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"readTableRange column '$column' not in the exported schema"))
    require(field.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"readTableRange needs a numeric column, '$column' is ${field.dataType}")
    val iceT = icebergType(field.dataType)
    // resolve the column to its durable field id via the SNAPSHOT's schema
    val fieldId = schemaNodeFrom(meta, atSnapshotId).get("fields").elements().asScala
      .find(_.get("name").asText() == field.name).map(_.get("id").asInt())
      .getOrElse(sys.error(s"field '${field.name}' not in the snapshot's schema"))
    def keep(f: ManifestDataFile): Boolean = {
      val mn = f.lower.get(fieldId).flatMap(decodeBound(iceT, _))
      val mx = f.upper.get(fieldId).flatMap(decodeBound(iceT, _))
      // intersect unless BOTH bounds exist and exclude the range
      mx.forall(_ >= lo) && mn.forall(_ <= hi)
    }
    readLiveRowsFrom(spark, fs, meta, schema, atSnapshotId, keep)
      .where(SnapshotTable.rangePredicate(field, lo, hi))
  }

  /** The default partition spec's single bucket field, if the export
    * publishes one: (partition field name, source column name, n) —
    * resolved from `partition-specs` + `default-spec-id` + the schemas'
    * field ids, exactly as an external engine resolves it.
    */
  private[graft] def bucketSpecFrom(meta: JsonNode): Option[(String, String, Int)] = {
    val specId = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("partition-specs")).flatMap(_.elements().asScala
        .find(_.get("spec-id").asInt() == specId))
      .flatMap { s =>
        s.get("fields").elements().asScala.toSeq match {
          case Seq(f) if f.get("transform").asText().startsWith("bucket[") =>
            val n = f.get("transform").asText().stripPrefix("bucket[").stripSuffix("]").toInt
            schemaIdToNameFrom(meta).get(f.get("source-id").asInt())
              .map(src => (f.get("name").asText(), src, n))
          case _ => None
        }
      }
  }

  /** Driver-side `bucket[n]` of one key value — what an external engine
    * computes from a `WHERE key = <v>` predicate to prune partitions.
    */
  private[graft] def bucketOfKey(dt: DataType, key: Any, n: Int): Int = {
    val h = (dt, key) match {
      case (StringType, s: String) => IcebergBucket.hashUtf8(UTF8String.fromString(s))
      case (LongType, v: Long)     => IcebergBucket.hashLong(v)
      case (IntegerType, v: Int)   => IcebergBucket.hashLong(v.toLong)
      case (BinaryType, b: Array[Byte]) => IcebergBucket.hashBytes(b)
      case (d: DecimalType, v: java.math.BigDecimal) =>
        IcebergBucket.hashDecimal(org.apache.spark.sql.types.Decimal(v))
      case (t, k) => throw new IllegalArgumentException(
        s"unsupported key type for bucket pruning: $t / ${k.getClass.getSimpleName}")
    }
    IcebergBucket.toBucket(h, n)
  }

  /** Point lookup THROUGH the export metadata with PARTITION pruning —
    * the reference's primary external access pattern (`WHERE merge_key =
    * <k>` from Trino/Spark against its Iceberg targets): when the
    * metadata publishes a `bucket[n]` default spec, only data files whose
    * partition tuple matches the key's bucket are planned (entries of
    * unpartitioned manifests — adopted foreign files — are always kept:
    * an empty tuple claims nothing). Null-tuple files (the null-key
    * partition) never match a non-null key. At 100 TB this is the
    * difference between scanning one bucket and scanning every live
    * file. Row-level deletes still apply; the exact predicate runs on
    * top.
    */
  def readTableForKey(spark: SparkSession, exportDir: String, key: Any,
      atSnapshotId: Option[Long] = None): DataFrame = {
    val (fs, meta) = openMeta(spark, exportDir)
    val schema = readSchemaFrom(meta, atSnapshotId)
    val (srcName, keep) = keyPruning(exportDir, meta, schema, key)
    readLiveRowsFrom(spark, fs, meta, schema, atSnapshotId, keep).where(col(srcName) === lit(key))
  }

  /** The data files a bucket-pruned point lookup would plan — exposed so
    * specs can assert the pruning (file set ⊂ live set, only matching
    * tuples) without depending on Spark's scan internals.
    */
  def plannedDataFilesForKey(spark: SparkSession, exportDir: String, key: Any)
      : (Seq[ManifestDataFile], Seq[ManifestDataFile]) = {
    val (fs, meta) = openMeta(spark, exportDir)
    val (_, keep) = keyPruning(exportDir, meta, readSchemaFrom(meta, None), key)
    val (all, _) = readFilesFrom(fs, meta, None)
    (all.filter(keep), all)
  }

  /** (bucket source column, file filter) of a point lookup on `key`,
    * from the default spec's `bucket[n]` field.
    */
  private def keyPruning(exportDir: String, meta: JsonNode, schema: StructType, key: Any)
      : (String, ManifestDataFile => Boolean) = {
    val (pname, srcName, n) = bucketSpecFrom(meta).getOrElse(throw new IllegalArgumentException(
      s"export at $exportDir publishes no bucket partition spec; use readTable + a filter"))
    val field = schema.fields.find(_.name == srcName).getOrElse(
      sys.error(s"bucket source column '$srcName' not in the snapshot schema"))
    val b = bucketOfKey(field.dataType, key, n)
    (srcName, f => LiveScan.bucketMatches(f.partition.get(pname), b))
  }

  /** Read the LIVE ROWS of an exported snapshot exactly as an Iceberg v2
    * merge-on-read reader does: scan the data files, then suppress rows
    * named by delete files under the spec's sequence-number rules —
    * EQUALITY deletes (content=2) apply to data files with a data
    * sequence number STRICTLY BELOW the delete's (so rows re-inserted
    * after a delete survive), POSITION deletes (content=1, rows of
    * `file_path`/`pos`) apply AT OR BELOW theirs (so a commit can delete
    * rows from files it just added). Equality keys are resolved to
    * columns via `equality_ids`; position deletes match rows through
    * Spark's `_metadata.file_path`/`_metadata.row_index` (parquet data
    * files only — the loud `require` states it), with both path sides
    * normalized to their URI path so writer-dependent scheme rendering
    * (`file:/` vs `file:///`) cannot break the match. The whole plan is
    * distributed: data files scan in parallel, and each delete side is
    * change-set-sized (broadcast explicitly).
    */
  def readLiveRows(
      spark: SparkSession, exportDir: String, readSchema: StructType,
      atSnapshotId: Option[Long] = None): DataFrame = {
    val (fs, meta) = openMeta(spark, exportDir)
    readLiveRowsFrom(spark, fs, meta, readSchema, atSnapshotId)
  }

  private def readLiveRowsFrom(spark: SparkSession, fs: FileSystem, meta: JsonNode,
      readSchema: StructType, atSnapshotId: Option[Long],
      keepFile: ManifestDataFile => Boolean = _ => true): DataFrame = {
    val (allData, deletes) = readFilesFrom(fs, meta, atSnapshotId)
    require(allData.nonEmpty, "no live data files in the export")
    val data = allData.filter(keepFile).map(f => ScanFile(f.path, f.sizeBytes, f.seq,
      if (f.fileFormat.equalsIgnoreCase("ORC")) "orc" else "parquet"))
    if (data.isEmpty) return LiveScan(spark, readSchema, data) // pruned to nothing: no delete IO
    val (posDels, eqDels) = deletes.partition(_.content == 1)
    val eq = if (eqDels.isEmpty) None else {
      val idToName = schemaIdToNameFrom(meta)
      val eqNames = eqDels.flatMap(_.equalityFieldIds).distinct.map(id =>
        idToName.getOrElse(id, sys.error(s"equality field id $id not in any published schema")))
      require(eqNames.size == 1,
        s"this reader supports single-column equality deletes, got: ${eqNames.mkString(", ")}")
      val keyCol = eqNames.head
      // delete files hold exactly the key column at the table's type, so
      // they read under the pinned key schema — unless the key was
      // dropped from this schema (time travel), or a delete footer does
      // not CARRY the key field (foreign/renamed-schema writer): a pinned
      // read of such a file yields all-NULL keys, and the NULL-safe key
      // join would then tombstone every NULL-key data row, while the
      // inferring reader fails loudly on that file instead. The footer
      // check is parallel, O(delete files) metadata IO.
      val conf = spark.sparkContext.hadoopConfiguration
      def footersCarryKey: Boolean =
        SnapshotTable.parallelFooterIo(eqDels)(d =>
          FileStats.parquetHasField(conf, new Path(d.path), keyCol)).forall(identity)
      Some(LiveScan.EqualityDeletes(keyCol, eqDels.map(d => ScanFile(d.path, d.sizeBytes, d.seq)),
        readSchema.fields.find(_.name.equalsIgnoreCase(keyCol)).filter(_ => footersCarryKey)))
    }
    // position deletes are rows (file_path, pos) at their delete file's
    // sequence, and apply to data files AT OR BELOW it (spec: a commit
    // may position-delete rows from files it just added)
    val pos = if (posDels.isEmpty) None else Some(LiveScan.PositionDeletes(
      LiveScan.scan(spark, None, posDels.map(d => ScanFile(d.path, d.sizeBytes, d.seq)), attach = true)
        .select(LiveScan.canonicalPathCol(col("file_path")).as("_dpath"),
          col("pos").cast("long").as("_dpos"), col("_gseq").as("_dseq")),
      seqScoped = true))
    LiveScan(spark, readSchema, data, eq = eq, pos = pos)
  }

  /** Field value, or null when the record's WRITER schema (a legacy
    * manifest written before the field existed) lacks it — Avro's
    * GenericData.Record.get(String) throws for unknown fields.
    */
  private def fieldOrNull(r: GenericRecord, name: String): AnyRef =
    if (r.getSchema.getField(name) != null) r.get(name) else null

  /** Avro bounds value (array of {key, value} records standing in for a
    * map) → field-id-keyed raw bytes; empty for null/absent.
    */
  private def boundsMapOf(raw: AnyRef): Map[Int, Array[Byte]] =
    Option(raw).map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.map { kv =>
      val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
      val arr = new Array[Byte](bb.remaining()); bb.get(arr)
      kv.get("key").asInstanceOf[Int] -> arr
    }.toMap).getOrElse(Map.empty)

  private def readAvro(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = fs.open(p)
    val stream = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (stream.hasNext) out += stream.next()
      out.result()
    } finally stream.close()
  }

  /** Avro container metadata of one file (for structural assertions). */
  private[graft] def avroMeta(fs: FileSystem, p: Path, key: String): String = {
    val in = fs.open(p)
    val stream = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try new String(stream.getMeta(key), StandardCharsets.UTF_8)
    finally stream.close()
  }

  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}
