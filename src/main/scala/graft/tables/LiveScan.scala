package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** One data file of a live-row scan, as a table format's metadata names
  * it: `bytes` is the manifest/log length (≤ 0 = unknown, read through
  * the listing reader), `seq` the data sequence number deletes compare
  * against, `tuple` the partition values (as strings) of a format that
  * keeps partition data in its log rather than in the files.
  */
final case class ScanFile(path: String, bytes: Long, seq: Long = 0L,
    format: String = "parquet", tuple: Seq[Option[String]] = Nil)

/** The one live-row scan behind [[SnapshotTable]], [[IcebergExport]] and
  * [[DeltaExport]]: each format decodes its own metadata into data files
  * plus delete sets, prunes the file list, and calls this.
  *
  * Plan shape: ONE scan per file format over manifest-known (path,
  * length) pairs ([[org.apache.spark.sql.GraftManifestRead]], no listing
  * round; a missing length falls back to the listing reader). When
  * deletes or partition tuples need per-file metadata, each row looks its
  * list entry up by canonical file path in the list itself, shipped with
  * the tasks — metadata-sized, the same order as the file listing Spark
  * ships to schedule the scan. One attach replaces a scan node per
  * sequence or per tuple (pathological at stream cadence on a
  * deferred-compaction table), and being no join it costs no job to
  * broadcast the list and leaves the plan's size estimates alone. Deletes
  * then apply as left-anti joins:
  *  - equality: a row dies iff a delete carries its key NULL-safely
  *    (`<=>`, NULL is a merge key) at a sequence STRICTLY above the
  *    row's file — rows written at or after the delete already reflect it;
  *  - position: a row dies iff a delete names its (file, row index) and,
  *    for sequence-scoped deletes (Iceberg), the delete's sequence is at
  *    or above the file's; Delta deletion vectors always apply.
  * Delete sides are change-set-sized by design (compaction bounds them)
  * and broadcast explicitly — a shuffle join would reshuffle the whole
  * data scan; a caller past its own size bound may opt out
  * ([[PositionDeletes.broadcast]]). A delete-free scan without partition
  * tuples is the plain manifest scan, nothing attached.
  */
object LiveScan {

  /** Equality deletes: files holding the key column `keyCol`, each at its
    * own sequence. `keyField` pins the read schema; None infers it from
    * the files (a writer whose footers may not carry the key).
    */
  final case class EqualityDeletes(keyCol: String, files: Seq[ScanFile], keyField: Option[StructField])

  /** Position deletes as rows `_dpath` (canonical, see [[canonicalPathCol]])
    * and `_dpos`, plus `_dseq` when `seqScoped`.
    */
  final case class PositionDeletes(rows: DataFrame, seqScoped: Boolean, broadcast: Boolean = true)

  /** Live rows of `files` under `schema`. `partitionCols` name the schema
    * columns whose values come from each file's `tuple` (in this order)
    * rather than from the file.
    */
  def apply(spark: SparkSession, schema: StructType, files: Seq[ScanFile],
      partitionCols: Seq[String] = Nil, eq: Option[EqualityDeletes] = None,
      pos: Option[PositionDeletes] = None): DataFrame = {
    if (files.isEmpty) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    partitionCols.foreach(pc => require(schema.fieldNames.contains(pc),
      s"partition column '$pc' missing from the table schema"))
    val dataSchema = StructType(schema.fields.filterNot(f => partitionCols.contains(f.name)))
    val data = scan(spark, Some(dataSchema), files,
      attach = partitionCols.nonEmpty || eq.nonEmpty || pos.exists(_.seqScoped),
      rowIndex = pos.nonEmpty, tupleCols = partitionCols)
    if (partitionCols.isEmpty && eq.isEmpty && pos.isEmpty) return data
    val afterEq = eq.fold(data) { e =>
      val dels = scan(spark, e.keyField.map(f => StructType(Seq(f))), e.files, attach = true)
        .select(col(e.keyCol).as("_dkey"), col("_gseq").as("_dseq"))
      data.join(broadcast(dels), col(e.keyCol) <=> col("_dkey") && col("_dseq") > col("_gseq"),
        "left_anti")
    }
    val live = pos.fold(afterEq) { p =>
      val at = col("_gpath") === col("_dpath") && col("_gpos") === col("_dpos")
      afterEq.join(if (p.broadcast) broadcast(p.rows) else p.rows,
        if (p.seqScoped) at && col("_dseq") >= col("_gseq") else at, "left_anti")
    }
    live.select(schema.fields.toIndexedSeq.map(f =>
      if (partitionCols.contains(f.name)) col(s"${f.name}__str").cast(f.dataType).as(f.name)
      else col(quoted(f.name))): _*)
  }

  /** `files` under `schema` (None: inferred by the listing reader), one
    * scan per file format. `rowIndex` adds the canonical file path
    * `_gpath` and parquet's `_gpos`; `attach` gives each row its list
    * entry's `_gpath`, `_gseq` and `<col>__str` partition strings,
    * failing loudly on a row whose file the list does not name — a
    * normalization divergence would otherwise silently drop data rows or
    * ignore delete files.
    */
  def scan(spark: SparkSession, schema: Option[StructType], files: Seq[ScanFile],
      attach: Boolean = false, rowIndex: Boolean = false, tupleCols: Seq[String] = Nil): DataFrame = {
    val scanned = files.groupBy(_.format).toSeq.sortBy(_._1).map { case (fmt, group) =>
      val df = read(spark, fmt, schema, group)
      if (rowIndex) {
        require(fmt == "parquet", "position deletes require parquet data files " +
          s"(_metadata.row_index); this scan has ${group.size} $fmt data file(s)")
        df.withColumn("_gpath", canonicalPathCol(col("_metadata.file_path")))
          .withColumn("_gpos", col("_metadata.row_index"))
      } else if (attach) df.withColumn("_gpath", canonicalPathCol(col("_metadata.file_path")))
      else df
    }.reduce(_ unionByName _)
    if (!attach) scanned
    else {
      val entries = files.map(f => canonicalPath(f.path) -> ((f.seq, f.tuple.map(_.orNull)))).toMap
      val entryOf = udf((p: String) => entries.get(p))
      val withEntry = scanned.withColumn("_gentry", entryOf(col("_gpath")))
        .withColumn("_gseq", when(col("_gentry").isNull, raise_error(concat(
          lit("LiveScanAttachMiss: file "), col("_gpath"),
          lit(" is not in the scanned file list (path normalization diverged)"))).cast("bigint"))
          .otherwise(col("_gentry._1")))
      tupleCols.zipWithIndex.foldLeft(withEntry) { case (df, (c, i)) =>
        df.withColumn(s"${c}__str", col("_gentry._2").getItem(i))
      }.drop("_gentry")
    }
  }

  // The manifest knows every file's true length, so parquet/orc scans skip
  // Spark's listing round (no getFileStatus per file, no listing JOB past
  // 32 paths). Strictly > 0: those files are never 0 bytes, and a 0-length
  // entry would plan an EMPTY split over a real file (silently dropped
  // rows) — the listing reader is the safe fallback, as for avro.
  private def read(spark: SparkSession, fmt: String, schema: Option[StructType],
      files: Seq[ScanFile]): DataFrame = schema match {
    case Some(s) if (fmt == "parquet" || fmt == "orc") && files.forall(_.bytes > 0) =>
      org.apache.spark.sql.GraftManifestRead.read(spark, fmt, s,
        files.map(f => (new Path(f.path), f.bytes)))
    case _ =>
      val reader = schema.fold(spark.read)(spark.read.schema)
      val paths = files.map(_.path)
      fmt match {
        case "orc"  => reader.orc(paths: _*)
        case "avro" => reader.format(SnapshotTable.AvroFormatClass).load(paths: _*)
        case _      => reader.parquet(paths: _*)
      }
  }

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Key pruning of a point lookup against one file's bucket partition
    * value: a file without a tuple made no claim and must scan, the null
    * tuple (the null-key partition) never matches a concrete key,
    * otherwise the values compare.
    */
  def bucketMatches[A](tuple: Option[Option[A]], bucket: A): Boolean = tuple match {
    case None          => true
    case Some(None)    => false
    case Some(Some(v)) => v == bucket
  }

  /** Canonical DECODED URI path of a data file — the ONE normalization
    * both sides of every path join must use. Scan-side
    * `_metadata.file_path` is scheme-prefixed, PERCENT-ENCODED, and
    * keeps the filesystem authority (`hdfs://nn:8020/x`,
    * `file:/tmp/a%20b/x`); driver-side Hadoop Path strings are unencoded.
    * Both reduce here to the decoded path with scheme AND authority
    * stripped: the driver side drops the authority, so a scan side that
    * kept it as a path segment would match NOTHING on an
    * authority-bearing filesystem (hdfs, s3a, abfs) — silently vanished
    * deletes, zero-row partitioned reads. Local `file:/` paths have no
    * authority, so local tests cannot show that divergence.
    *
    * `url_decode` speaks application/x-www-form-urlencoded, where a bare
    * `'+'` decodes to a SPACE — but URI percent-encoding (what
    * `_metadata.file_path` carries) leaves `'+'` literal, and the
    * driver-side twin `Path.toUri.getPath` preserves it. Without the
    * re-escape below, any table location containing `'+'` hits the same
    * silent-vanish class this normalization exists to prevent: the two
    * sides disagree on the character and every path join matches nothing.
    */
  private[tables] def canonicalPathCol(c: Column): Column =
    url_decode(regexp_replace(regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""), "\\+", "%2B"))

  /** Driver-side twin of [[canonicalPathCol]]: `Path.toUri.getPath` is
    * the decoded, scheme-and-authority-free path.
    */
  private[tables] def canonicalPath(u: String): String = new Path(u).toUri.getPath
}
