package graft

import graft.tables.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import scala.jdk.CollectionConverters._

/** Specs for the snapshot table format: schema evolution, time travel
  * pointers, and the maintenance procedures (SURVEY.md §2.A12, A17-A20).
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): SnapshotTable = {
    val t = SnapshotTable(spark, tmpDir(prefix))
    val df = (1 to 100).map(i => (s"k$i", i.toLong, s"v$i")).toDF("arcane_merge_key", "versionnumber", "payload")
    t.createOrReplace(df, "arcane_merge_key", numBuckets = 4)
    t
  }

  test("a ZERO-ROW staged batch is a harmless commit in both merge modes") {
    // the real path to this edge: content dedup can suppress EVERY row of
    // a non-empty micro-batch, so the pipeline hands merge/mergeOnRead an
    // empty staged frame — it must not corrupt state or fail the stream
    val t = SnapshotTable(spark, tmpDir("empty-merge"))
    val df = (1 to 50).map(i => (s"k$i", 1L, s"v$i", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_delete")
    t.createOrReplace(df, "arcane_merge_key", numBuckets = 4)
    val before = t.read().collect().map(_.toString).toSet
    val empty = Seq.empty[(String, Long, String, Boolean)]
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_delete")

    t.merge(empty, "arcane_merge_key", "versionnumber", "is_delete")
    assert(t.read().collect().map(_.toString).toSet === before,
      "an empty CoW merge must not change a row")

    val delsBefore = t.currentSnapshot.deletes.size
    t.mergeOnRead(empty, "arcane_merge_key", "versionnumber", "is_delete")
    assert(t.read().collect().map(_.toString).toSet === before,
      "an empty MoR merge must not change a row")
    assert(t.currentSnapshot.deletes.size === delsBefore,
      "an empty MoR merge must not write delete files")
    // the table keeps working normally afterwards
    t.mergeOnRead(Seq(("k1", 2L, "v1b", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_delete"),
      "arcane_merge_key", "versionnumber", "is_delete")
    assert(t.read().where($"arcane_merge_key" === "k1").select("payload")
      .as[String].head() === "v1b")
  }

  test("ORC table format: create, merge, compact, read-back parity with parquet") {
    // the reference's CREATE TABLE format option (PARQUET | ORC | AVRO,
    // CRD beta:294-318): same table semantics, different data file codec
    val df = (1 to 100).map(i => (s"k$i", i.toLong, s"v$i")).toDF("arcane_merge_key", "versionnumber", "payload")
    val orcLoc = tmpDir("snap-orc")
    val orc = SnapshotTable(spark, orcLoc)
    orc.createOrReplace(df, "arcane_merge_key", numBuckets = 4,
      extraProps = Map(SnapshotTable.PropFormat -> "orc", SnapshotTable.PropBloomColumns -> "arcane_merge_key"))
    val pq = SnapshotTable(spark, tmpDir("snap-orc-ref"))
    pq.createOrReplace(df, "arcane_merge_key", numBuckets = 4)
    // files on disk really are ORC
    assert(orc.currentSnapshot.files.nonEmpty)
    val anOrcFile = new java.io.File(s"$orcLoc/data/${orc.currentSnapshot.files.head.path}")
    assert(anOrcFile.exists)
    val magic = java.nio.file.Files.readAllBytes(anOrcFile.toPath)
    assert(new String(magic.take(3), "US-ASCII") == "ORC", "ORC postscript magic at file start")
    // identical merge semantics across formats
    val change = Seq(
      ("k1", 1000L, "updated", false),
      ("k2", 1L, "stale", false),     // stale → no-op
      ("k3", 1000L, null, true),      // delete
      ("knew", 5L, "fresh", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    Seq(orc, pq).foreach { t =>
      t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
      t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    }
    val o = orc.read().select("arcane_merge_key", "versionnumber", "payload")
      .as[(String, Long, String)].collect().toSet
    val p = pq.read().select("arcane_merge_key", "versionnumber", "payload")
      .as[(String, Long, String)].collect().toSet
    assert(o === p)
    assert(!o.exists(_._1 == "k3") && o.exists(_._1 == "knew"))
    // compaction keeps the format
    orc.compact(fileSizeThresholdBytes = Long.MaxValue)
    assert(orc.read().count() === p.size.toLong)
    // an unknown format is rejected with a clear error, not a runtime surprise
    val bad = SnapshotTable(spark, tmpDir("snap-badfmt"))
    val e = intercept[IllegalArgumentException] {
      bad.createOrReplace(df, "arcane_merge_key", numBuckets = 2,
        extraProps = Map(SnapshotTable.PropFormat -> "feather"))
    }
    assert(e.getMessage.contains("unsupported write.format"))
  }

  test("compaction converges: a second compact after consolidation is a no-op") {
    val t = freshTable("snap-converge")
    // fragment one bucket: a single-key merge writes a second file there
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val change = Seq(("k1", 1000L, "updated", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val v1 = t.compact(fileSizeThresholdBytes = Long.MaxValue).version
    // after consolidation every bucket holds ONE file — the predicate must
    // not re-select them (the old size>1 OR small predicate re-rewrote all
    // data every maintenance tick forever)
    assert(t.currentSnapshot.files.groupBy(_.bucket).forall(_._2.size == 1))
    val v2 = t.compact(fileSizeThresholdBytes = Long.MaxValue).version
    assert(v2 === v1, "second compact must be a no-op, not a full rewrite")
    assert(t.read().count() === 100)
  }

  test("reserved internal column names are rejected loudly") {
    val t = SnapshotTable(spark, tmpDir("snap-reserved"))
    val bad = (1 to 5).map(i => (s"k$i", i.toLong, s"v$i")).toDF("arcane_merge_key", "versionnumber", "gbk")
    val e = intercept[IllegalArgumentException] {
      t.createOrReplace(bad, "arcane_merge_key", numBuckets = 2)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("ADD COLUMNS is metadata-only and old files read as NULL") {
    val t = freshTable("snap-evolve")
    val before = t.currentSnapshot
    t.addColumns(Seq(StructField("new_col", LongType), StructField("payload", StringType)))
    val after = t.currentSnapshot
    assert(after.version == before.version + 1)
    assert(after.files == before.files)                       // no data rewritten
    assert(after.schema.fieldNames.count(_ == "payload") == 1) // existing col not duplicated
    val rows = t.read()
    assert(rows.schema.fieldNames.contains("new_col"))
    assert(rows.where(col("new_col").isNotNull).count() == 0) // NULL-filled history
    assert(rows.count() == 100)
  }

  test("merge rewrites only affected buckets, carries the rest forward") {
    val t = freshTable("snap-bucketed")
    val before = t.currentSnapshot
    // single-key change set → at most 1 bucket touched
    val change = Seq(("k1", 1000L, "updated", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val after = t.currentSnapshot
    val carried = after.files.toSet.intersect(before.files.toSet)
    val touchedBuckets = after.files.toSet.diff(before.files.toSet).map(_.bucket)
    assert(touchedBuckets.size == 1)                           // only k1's bucket rewritten
    assert(carried.map(_.bucket) == before.files.map(_.bucket).toSet.diff(touchedBuckets))
    assert(t.read().where(col("arcane_merge_key") === "k1").select("payload").as[String].head() == "updated")
    assert(t.read().count() == 100)
  }

  test("mergeOnRead: no data file is rewritten — commit appends winners + per-bucket delete keys only") {
    val t = freshTable("snap-mor")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val before = t.currentSnapshot
    val change = Seq(
      ("k1", 1000L, "updated", false), // update → new row + delete key
      ("k2", 1L, "stale", false),      // stale → no-op
      ("k3", 1000L, null, true),       // tombstone → delete key only
      ("knew", 5L, "fresh", false))    // insert → new row, no delete key
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.mergeOnRead(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val after = t.currentSnapshot
    // the no-rewrite pin: every pre-existing data file is carried verbatim
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "merge-on-read must never rewrite or drop existing data files")
    val appended = after.files.toSet.diff(before.files.toSet)
    assert(appended.nonEmpty && appended.forall(_.seq == after.version))
    assert(after.deletes.nonEmpty && after.deletes.forall(_.seq == after.version))
    // merged state is the copy-on-write result
    val rows = t.read().select("arcane_merge_key", "versionnumber", "payload")
      .as[(String, Long, String)].collect().map { case (k, v, p) => k -> ((v, p)) }.toMap
    assert(rows("k1") == ((1000L, "updated")))
    assert(rows("k2") == ((2L, "v2")))
    assert(!rows.contains("k3") && rows("knew") == ((5L, "fresh")))
    assert(t.read().count() == 100) // 100 - k3 + knew
    // bucket-pruned read through the delete-applying path stays exact
    // new tables bucket under the Iceberg transform (write.bucket.fn)
    val k1b = t.read().sparkSession.range(1).select(
      expr("iceberg_bucket('k1', 4)")).as[Int].head()
    val pruned = t.read(Some(Set(k1b)))
    assert(pruned.where(col("arcane_merge_key") === "k1").select("payload").as[String].head() == "updated")
    // replay idempotence holds on the MoR path too (crash-recovery contract)
    val before2 = t.currentSnapshot
    t.mergeOnRead(change, "arcane_merge_key", "versionnumber", "IsDelete")
    assert(t.read().count() == 100)
    assert(t.currentSnapshot.files.map(_.path).toSet == before2.files.map(_.path).toSet,
      "replayed MoR merge must append no data files (no winners)")
  }

  test("mergeOnRead: time travel spans MoR commits; export refuses until compaction absorbs deletes") {
    val t = freshTable("snap-mor-tt")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val v1 = t.currentSnapshot.version
    t.mergeOnRead(Seq(("k1", 1000L, "u1", false)).toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val v2 = t.currentSnapshot.version
    t.mergeOnRead(Seq(("k1", 2000L, "u2", false)).toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    def k1At(v: Long) = t.readAt(v).where(col("arcane_merge_key") === "k1").select("payload").as[String].head()
    assert(k1At(v1) == "v1" && k1At(v2) == "u1" && k1At(t.currentSnapshot.version) == "u2")
    // changesBetween sees MoR deltas (delete-file diffs mark the bucket)
    val delta = t.changesBetween(v2, t.currentSnapshot.version)
      .select("arcane_merge_key", "_change_type").as[(String, String)].collect().toSet
    assert(delta == Set(("k1", "update")))
    // export is refused while deletes are outstanding — a symlink reader
    // would resurrect superseded rows
    val ex = intercept[IllegalArgumentException] { t.exportSymlinkManifest(tmpDir("mor-exp")) }
    assert(ex.getMessage.contains("equality deletes"))
    t.compact(fileSizeThresholdBytes = Long.MaxValue)
    assert(t.currentSnapshot.deletes.isEmpty)
    t.exportSymlinkManifest(tmpDir("mor-exp2")) // now fine
    assert(t.read().where(col("arcane_merge_key") === "k1").select("payload").as[String].head() == "u2")
  }

  test("rollbackTo restores an earlier state as a NEW commit; history stays inspectable") {
    val t = freshTable("snap-rollback")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val v1 = t.currentSnapshot.version
    val good = t.read().orderBy("arcane_merge_key").collect().map(_.toString).toSeq
    // a "bad" merge-on-read commit (deletes in play) followed by rollback
    t.mergeOnRead(Seq(("k1", 9999L, "oops", false), ("k2", 9999L, null, true))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val vBad = t.currentSnapshot.version
    assert(t.read().count() == 99)
    t.rollbackTo(v1)
    assert(t.currentSnapshot.version == vBad + 1, "rollback is a new commit, not a pointer rewind")
    assert(t.read().orderBy("arcane_merge_key").collect().map(_.toString).toSeq === good)
    assert(t.currentSnapshot.deletes.isEmpty, "rolled-back state predates the deletes")
    // the bad commit stays inspectable (append-only history)...
    assert(t.readAt(vBad).count() == 99)
    // ...and the rollback itself is undoable by rolling "back" to it
    t.rollbackTo(vBad)
    assert(t.read().count() == 99)
  }

  test("history lists retained main-line snapshots with file/delete counts") {
    val t = freshTable("snap-history")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.mergeOnRead(Seq(("k1", 1000L, "u", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val h = t.history.orderBy("version")
      .select(col("version"), col("n_delete_files"))
      .as[(Long, Long)].collect().toSeq
    assert(h.map(_._1) == t.snapshotVersions)
    assert(h.last._2 > 0, "the MoR commit's delete files must be visible")
    assert(h.head._2 == 0)
    t.compact(fileSizeThresholdBytes = Long.MaxValue)
    assert(t.history.orderBy(col("version").desc).select("n_delete_files").as[Long].head() == 0)
  }

  test("tags pin snapshots against expiration and read by name") {
    val t = freshTable("snap-tags")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val v1 = t.currentSnapshot.version
    t.createTag("train-corpus-2026w33", v1)
    t.merge(Seq(("k1", 1000L, "updated", false)).toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    // everything older than now would expire — but the tag pins v1
    val removed = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 60000)
    assert(!removed.contains(v1), "tagged snapshot must not expire")
    assert(t.readTag("train-corpus-2026w33").where(col("arcane_merge_key") === "k1")
      .select("payload").as[String].head() == "v1")
    assert(t.listTags == Map("train-corpus-2026w33" -> v1))
    // duplicate tag names and bad names are rejected loudly
    intercept[IllegalArgumentException] { t.createTag("train-corpus-2026w33", v1) }
    intercept[IllegalArgumentException] { t.createTag("no/slashes", v1) }
    // dropping the tag releases the pin
    t.dropTag("train-corpus-2026w33")
    val removed2 = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 60000)
    assert(removed2.contains(v1))
    intercept[IllegalArgumentException] { t.readTag("train-corpus-2026w33") }
  }

  test("write-audit-publish: branch commits stay invisible until fastForward; a failed audit never lands") {
    import graft.ext.Quality
    val t = freshTable("snap-wap")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val mainBefore = t.read().orderBy("arcane_merge_key").collect().map(_.toString).toSeq

    // --- round 1: a BAD batch, caught by the audit, dropped ------------
    t.createBranch("audit")
    val bv = t.branchView("audit")
    bv.merge(Seq(("k1", 1000L, null, false)) // null payload = the planted defect
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    // branch sees the write; MAIN does not
    assert(bv.read().where(col("arcane_merge_key") === "k1").select("payload").head().isNullAt(0))
    assert(t.read().orderBy("arcane_merge_key").collect().map(_.toString).toSeq === mainBefore)
    val audit = Quality.check(bv.read(), Seq(Quality.NotNull("payload")))
      .select("violations").as[Long].head()
    assert(audit == 1L, "audit must catch the planted defect")
    t.dropBranch("audit")
    assert(t.listBranches.isEmpty)
    assert(t.read().orderBy("arcane_merge_key").collect().map(_.toString).toSeq === mainBefore)

    // --- round 2: a GOOD batch, audited, published ---------------------
    t.createBranch("audit")
    val bv2 = t.branchView("audit")
    bv2.mergeOnRead(Seq(("k1", 2000L, "audited", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    assert(Quality.check(bv2.read(), Seq(Quality.NotNull("payload")))
      .select("violations").as[Long].head() == 0L)
    t.fastForward("audit")
    assert(t.read().where(col("arcane_merge_key") === "k1").select("payload").as[String].head() == "audited")
    assert(t.read().count() == 100)
    // main keeps committing normally after the publish
    t.merge(Seq(("k2", 3000L, "post-publish", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    assert(t.read().where(col("arcane_merge_key") === "k2").select("payload").as[String].head() == "post-publish")

    // --- retention: a live branch head pins its snapshot and files ----
    t.createBranch("wip")
    t.branchView("wip").merge(Seq(("k3", 4000L, "wip-only", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 60000)
    t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 60000)
    assert(t.branchView("wip").read().where(col("arcane_merge_key") === "k3")
      .select("payload").as[String].head() == "wip-only",
      "maintenance must not break a live branch")
    // maintenance refuses to run from a branch view
    intercept[IllegalArgumentException] { t.branchView("wip").expireSnapshots(0L) }
  }

  test("IncrementalAgg: refresh from the change feed equals a full recompute (retractions, emptied groups)") {
    import graft.ext.IncrementalAgg
    val t = SnapshotTable(spark, tmpDir("snap-incr"))
    val v0 = Seq(
      ("k1", 1L, false, "red", 10.5),
      ("k2", 1L, false, "red", 2.0),
      ("k3", 1L, false, "blue", 7.0))
      .toDF("arcane_merge_key", "versionnumber", "IsDelete", "grp", "x")
    t.createOrReplace(v0, "arcane_merge_key", numBuckets = 4)
    val v1 = t.currentSnapshot.version
    val s1 = IncrementalAgg.full(t.read(), Seq("grp"), Seq("x"))
    // update k1 (red 10.5 → 4.0: retraction), delete k3 (blue empties),
    // insert k4 (green appears)
    t.merge(Seq(
      ("k1", 2L, false, "red", 4.0),
      ("k3", 2L, true, null, 0.0),
      ("k4", 2L, false, "green", 1.25))
      .toDF("arcane_merge_key", "versionnumber", "IsDelete", "grp", "x"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val got = IncrementalAgg.refresh(s1, t, v1, t.currentSnapshot.version, Seq("grp"), Seq("x"))
      .select(col("grp"), col("n"), col("sum_x").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("red", 2L, 6.0), ("green", 1L, 1.25)), s"got $got")
    // and it equals the full recompute exactly
    val fullNow = IncrementalAgg.full(t.read(), Seq("grp"), Seq("x"))
      .select(col("grp"), col("n"), col("sum_x").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == fullNow)
    // a group moving between labels via update retracts from the old group
    val v2 = t.currentSnapshot.version
    val s2 = IncrementalAgg.full(t.read(), Seq("grp"), Seq("x"))
    t.merge(Seq(("k4", 3L, false, "red", 1.25))
      .toDF("arcane_merge_key", "versionnumber", "IsDelete", "grp", "x"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val got2 = IncrementalAgg.refresh(s2, t, v2, t.currentSnapshot.version, Seq("grp"), Seq("x"))
      .select(col("grp"), col("n"), col("sum_x").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got2 == Set(("red", 3L, 7.25)), s"got2 $got2")
  }

  test("mergeOnRead matches merge() on NULL-version and NULL-key rows (argmax NULL ordering)") {
    // NULL version sorts below every value in merge()'s struct argmax;
    // the MoR decision join must agree — a strict `v > tv` alone is NULL
    // there and silently skipped both the kill and the tombstone.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}
    val schema = StructType(Seq(
      StructField("arcane_merge_key", StringType, nullable = true),
      StructField("versionnumber", LongType, nullable = true),
      StructField("IsDelete", BooleanType, nullable = true),
      StructField("payload", StringType, nullable = true)))
    def mk(tag: String) = {
      val t = SnapshotTable(spark, tmpDir(s"snap-nullv-$tag"))
      val init = Seq(
        Row("kn", null, false, "null-version"),
        Row(null, 5L, false, "null-key"),
        Row("kd", 3L, false, "doomed"))
      t.createOrReplace(spark.createDataFrame(
        spark.sparkContext.parallelize(init), schema), "arcane_merge_key", numBuckets = 4)
      t
    }
    val batch = Seq(
      ("kn", Some(7L), false, "updated"),     // beats the NULL-version row
      (null.asInstanceOf[String], Some(9L), false, "null-key-updated"), // NULL key is a key
      ("kd", Some(9L), true, null.asInstanceOf[String]))               // tombstone
      .toDF("arcane_merge_key", "versionnumber", "IsDelete", "payload")
    val cow = mk("cow"); cow.merge(batch, "arcane_merge_key", "versionnumber", "IsDelete")
    val mor = mk("mor"); mor.mergeOnRead(batch, "arcane_merge_key", "versionnumber", "IsDelete")
    def st(t: SnapshotTable) = t.read()
      .select(col("arcane_merge_key"), col("versionnumber"), col("payload"))
      .collect().map(_.toString).sorted.toSeq
    assert(st(mor) === st(cow))
    assert(st(mor).size == 2 && st(mor).exists(_.contains("null-key-updated")))
  }

  test("fastForward: refused after main advances; published head is a main-line version") {
    val t = freshTable("snap-ff")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.createBranch("audit")
    // main advances AFTER the fork → publish must refuse, not abandon it
    t.merge(Seq(("k1", 500L, "mainline", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    t.branchView("audit").merge(Seq(("k2", 500L, "branchline", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val ex = intercept[IllegalArgumentException] { t.fastForward("audit") }
    assert(ex.getMessage.contains("main advanced"))
    t.dropBranch("audit")
    // fresh fork → publish → the published state is addressable by version
    t.createBranch("audit2")
    t.branchView("audit2").mergeOnRead(Seq(("k3", 900L, "published", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val published = t.fastForward("audit2")
    assert(t.readAt(published.version).where(col("arcane_merge_key") === "k3")
      .select("payload").as[String].head() == "published")
    t.createTag("published-state", published.version) // version APIs see it
    assert(t.changesBetween(published.version - 1, published.version)
      .where(col("arcane_merge_key") === "k3").count() == 1)
  }

  test("changesBetween pairs NULL-keyed rows across versions (no phantom delete+insert)") {
    val t = SnapshotTable(spark, tmpDir("snap-nullkey-cdf"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      StructField("arcane_merge_key", StringType, nullable = true),
      StructField("versionnumber", LongType, nullable = true),
      StructField("payload", StringType, nullable = true)))
    t.createOrReplace(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null, 1L, "null-keyed"),
        org.apache.spark.sql.Row("ka", 1L, "a"))), schema),
      "arcane_merge_key", numBuckets = 1) // ONE bucket: any change touches the NULL row's bucket
    val v1 = t.currentSnapshot.version
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.merge(Seq(("kb", 2L, "b", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete"),
      "arcane_merge_key", "versionnumber", "IsDelete")
    val delta = t.changesBetween(v1, t.currentSnapshot.version)
      .select(col("arcane_merge_key"), col("_change_type")).collect()
      .map(r => (Option(r.getString(0)), r.getString(1))).toSet
    assert(delta == Set((Some("kb"), "insert")), s"unexpected delta: $delta")
  }

  test("snapshot JSON round-trips seq + deletes + rows/bytes; legacy manifests parse with defaults") {
    import graft.tables.{DataFile, DeleteFile, Snapshot}
    val s = Snapshot(7L,
      org.apache.spark.sql.types.StructType(Seq(StructField("arcane_merge_key", StringType))),
      4, Seq(DataFile("a/b.parquet", 2, Map("x" -> ((1.0, 9.0))), 7L, rows = 1234L, bytes = 56789L)),
      Map("p" -> "v"), 123L,
      Seq(DeleteFile("a/b-deletes/gbk=2/d.parquet", 2, 7L, rows = 3L, bytes = 77L)))
    assert(SnapshotTable.fromJson(SnapshotTable.toJson(s)) == s)
    // a manifest written before merge-on-read / the r14 rows+bytes fields
    // existed (no seq, no deletes, no rows/bytes)
    val legacy = SnapshotTable.toJson(s.copy(
      files = Seq(DataFile("a/b.parquet", 2)), deletes = Seq.empty))
    assert(!legacy.contains("\"seq\"") && !legacy.contains("\"deletes\"") &&
      !legacy.contains("\"rows\"") && !legacy.contains("\"bytes\""))
    val parsed = SnapshotTable.fromJson(legacy)
    assert(parsed.files.head.seq == 0L && parsed.deletes.isEmpty)
    assert(parsed.files.head.rows == -1L && parsed.files.head.bytes == -1L,
      "legacy entries must parse to unknown (-1) so consumers take the footer fallback")
  }

  test("merge replay is idempotent: re-applying the same batch changes no row") {
    // the crash-recovery contract: a micro-batch whose merge committed but
    // whose streaming offset didn't gets REPLAYED from the checkpoint —
    // equal versions prefer the target row, so data is unchanged.
    val t = freshTable("snap-replay")
    val change = Seq(
      ("k1", 1000L, "updated", false),
      ("k2", 1L, "stale-tombstone", true))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val rows1 = t.read().orderBy("arcane_merge_key")
      .collect().map(_.toString).toSeq
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete") // replay
    val rows2 = t.read().orderBy("arcane_merge_key")
      .collect().map(_.toString).toSeq
    assert(rows1 == rows2, "replayed merge must be a data no-op")
  }

  test("changesBetween emits exactly the insert/update/delete delta of a merge") {
    val t = freshTable("snap-cdf")
    val v1 = t.currentSnapshot.version
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val change = Seq(
      ("k1", 1000L, "updated", false),   // update (higher version)
      ("k2", 1L, "stale", false),        // replay no-op (lower version) — must NOT appear
      ("k3", 1000L, "gone", true),       // delete tombstone
      ("k999", 1000L, "brand-new", false)) // insert
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val v2 = t.currentSnapshot.version
    val cdf = t.changesBetween(v1, v2)
      .select("arcane_merge_key", "_change_type", "payload")
      .as[(String, String, String)].collect().toSet
      // addColumns puts IsDelete=NULL everywhere; ignore it via projection
    assert(cdf == Set(
      ("k1", "update", "updated"),
      ("k3", "delete", "v3"),            // the removed FROM row
      ("k999", "insert", "brand-new")))
  }

  test("compaction folds multi-file buckets into one file per bucket") {
    val t = freshTable("snap-compact")
    // merges accumulate extra files in touched buckets
    (1 to 3).foreach { i =>
      val change = Seq((s"k$i", 2000L + i, "again", null.asInstanceOf[java.lang.Boolean]))
        .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
      if (i == 1) t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
      t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    }
    t.compact(fileSizeThresholdBytes = 512L * 1024 * 1024)
    val after = t.currentSnapshot
    assert(after.files.groupBy(_.bucket).forall(_._2.size == 1), "one file per bucket after compaction")
    assert(t.read().count() == 100)
  }

  test("snapshot expiration + orphan removal leave the current snapshot readable") {
    val t = freshTable("snap-gc")
    val change = Seq(("k2", 5000L, "live", null.asInstanceOf[java.lang.Boolean]))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    assert(t.snapshotVersions.size >= 3)

    val removedSnaps = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 3600_000)
    assert(removedSnaps.nonEmpty)
    assert(t.snapshotVersions == Seq(t.currentSnapshot.version)) // only current kept

    val removedFiles = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600_000)
    assert(removedFiles.nonEmpty) // the pre-merge bucket file is now orphaned
    assert(t.read().count() == 100)
    assert(t.read().where(col("payload") === "live").count() == 1)
  }

  test("removeOrphanFiles under a wrapped local scheme removes the orphan and keeps every live file") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.counting.impl", classOf[CountingAbstractFileSystem].getName)
    val base = tmpDir("snap-orphans-counting")
    val t = SnapshotTable(spark, s"counting://$base/table")
    t.createOrReplace((1 to 40).map(i => (s"k$i", 1L, s"v$i"))
      .toDF("arcane_merge_key", "versionnumber", "payload"), "arcane_merge_key", numBuckets = 4)
    val orphan = new java.io.File(s"$base/table/data/orphan-dir/part-orphan.parquet")
    orphan.getParentFile.mkdirs()
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val live = t.currentSnapshot.files.map(_.path)
    val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 3600_000)
    assert(removed == Seq("orphan-dir/part-orphan.parquet"))
    assert(!orphan.exists())
    live.foreach(p => assert(new java.io.File(s"$base/table/data/$p").exists(), s"live file $p removed"))
    assert(t.read().count() == 40)
  }

  test("write-time sort order yields sorted files; bloom option accepted") {
    val t = SnapshotTable(spark, tmpDir("snap-layout"))
    val df = (1 to 100).reverse.map(i => (s"k$i", i.toLong, s"v$i"))
      .toDF("arcane_merge_key", "versionnumber", "payload")
    t.createOrReplace(df, "arcane_merge_key", numBuckets = 2, extraProps = Map(
      SnapshotTable.PropSortOrder -> "versionnumber",
      SnapshotTable.PropBloomColumns -> "arcane_merge_key"))
    assert(t.properties(SnapshotTable.PropSortOrder) == "versionnumber")
    // every data file must be internally sorted by versionnumber
    val snap = t.currentSnapshot
    snap.files.foreach { f =>
      val vs = spark.read.parquet(s"${t.location}/data/${f.path}")
        .select("versionnumber").as[Long].collect()
      assert(vs.sameElements(vs.sorted), s"file ${f.path} not sorted")
    }
    assert(t.read().count() == 100)
  }

  test("time travel reads an earlier snapshot until it expires") {
    val t = freshTable("snap-travel")
    val v1 = t.currentSnapshot.version
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val change = Seq(("k1", 9999L, "future", null.asInstanceOf[java.lang.Boolean]))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    assert(t.read().where(col("payload") === "future").count() == 1)
    assert(t.readAt(v1).where(col("payload") === "future").count() == 0) // pre-merge state
    assert(t.readAt(v1).count() == 100)
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 3600_000)
    intercept[IllegalArgumentException] { t.readAt(v1) }
  }

  test("symlink-manifest export exposes exactly the live snapshot to external readers") {
    val t = freshTable("snap-export")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val change = Seq(("k1", 7000L, "exported", null.asInstanceOf[java.lang.Boolean]))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")

    val exportDir = tmpDir("snap-export-out")
    val manifest = t.exportSymlinkManifest(exportDir)
    // manifest lists exactly the live files (dead pre-merge file stays on
    // the table's own disk but must not be exported)
    assert(manifest.toSet ==
      t.currentSnapshot.files.map(f => s"file:${t.location}/data/${f.path}").toSet)
    val deadOnDisk = {
      val it = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .listFiles(new org.apache.hadoop.fs.Path(s"${t.location}/data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().isFile) n += 1 }
      n
    }
    assert(deadOnDisk > t.currentSnapshot.files.size, "superseded files should still be on disk")
    // schema sidecar parses back to the snapshot schema; an external reader
    // applies it over the export glob (schema evolution means pre-ADD
    // COLUMNS files physically lack the new column) and sees read()
    // bit-exactly
    val schemaJson = scala.io.Source.fromFile(s"$exportDir/schema.json").mkString
    val exported = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(exported == t.schema)
    val external = spark.read.schema(exported).parquet(s"$exportDir/data")
      .orderBy("arcane_merge_key").collect()
    val internal = t.read().orderBy("arcane_merge_key").collect()
    assert(external.length == 100 && external.sameElements(internal))
  }

  test("export publish retains the superseded version for one grace publish") {
    val t = freshTable("snap-export-grace")
    val exportDir = tmpDir("snap-export-grace-out")
    def target: java.nio.file.Path =
      java.nio.file.Files.readSymbolicLink(java.nio.file.Paths.get(exportDir))
    def versions: Set[String] = {
      val parent = java.nio.file.Paths.get(exportDir).getParent
      val name = java.nio.file.Paths.get(exportDir).getFileName.toString
      val s = java.nio.file.Files.list(parent)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(name + ".v")).toSet
      finally s.close()
    }
    t.exportSymlinkManifest(exportDir)
    val v1 = target.getFileName.toString
    t.setProperties(Map("touch" -> "1")) // bump version: grace applies to REAL re-publishes
    t.exportSymlinkManifest(exportDir)
    val v2 = target.getFileName.toString
    assert(v1 != v2)
    // an in-flight reader of v1 (resolved just before the swap) still sees
    // an intact directory
    assert(versions == Set(v1, v2), s"expected {$v1,$v2}, got $versions")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(exportDir).resolveSibling(v1).resolve("_SUCCESS")))
    t.setProperties(Map("touch" -> "2"))
    t.exportSymlinkManifest(exportDir)
    val v3 = target.getFileName.toString
    // two publishes stale → dropped; disk bounded at two live exports
    assert(versions == Set(v2, v3), s"expected {$v2,$v3}, got $versions")
    // idempotence fast path: re-export at the SAME table version is a
    // no-op — no new versioned dir, published target untouched (a
    // maintenance run whose compaction did nothing re-exports for free)
    t.exportSymlinkManifest(exportDir)
    assert(target.getFileName.toString == v3 && versions == Set(v2, v3),
      "same-version re-export must not rebuild the export")
  }

  test("iceberg export: spec-shaped v2 metadata chain resolves to exactly the live rows") {
    import graft.tables.IcebergExport
    import org.apache.hadoop.fs.Path
    val t = freshTable("snap-iceberg")
    // create dead files: a merge rewrites some buckets, superseded files stay on disk
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val change = Seq(
      ("k1", 1000L, "updated", false),
      ("k2", 1000L, null: String, true), // tombstone
      ("kx", 5L, "fresh", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val exportDir = tmpDir("snap-iceberg-out")
    val metaPath = t.exportIceberg(exportDir)
    val fs = new Path(exportDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // metadata.json: required v2 TableMetadata fields
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(metaPath)
    val meta = try mapper.readTree(new String(in.readAllBytes())) finally in.close()
    assert(meta.get("format-version").asInt() == 2)
    assert(meta.get("current-snapshot-id").asLong() ==
      meta.get("snapshots").get(0).get("snapshot-id").asLong())
    val schemaNode = meta.get("schemas").get(0)
    val fieldNames = (0 until schemaNode.get("fields").size())
      .map(i => schemaNode.get("fields").get(i).get("name").asText()).toSet
    assert(fieldNames == t.schema.fieldNames.toSet)
    // field ids are assigned and unique (Iceberg's column identity)
    val ids = (0 until schemaNode.get("fields").size())
      .map(i => schemaNode.get("fields").get(i).get("id").asInt())
    assert(ids == (1 to ids.size))

    // manifest avro carries the spec's required container metadata
    val listPath = new Path(meta.get("snapshots").get(0).get("manifest-list").asText())
    assert(fs.exists(listPath))
    assert(IcebergExport.avroMeta(fs, listPath, "format-version") == "2")

    // chain resolves to exactly the table's live files; record counts sum
    // to the live row count (dead files exist on disk but are unreferenced)
    val chain = IcebergExport.readDataFiles(fs, new Path(exportDir))
    val manifestFiles = chain.map(_._1).toSet
    val liveFiles = t.currentSnapshot.files
      .map(f => fs.makeQualified(new Path(s"${t.location}/data", f.path)).toString).toSet
    assert(manifestFiles == liveFiles)
    assert(chain.map(_._2).sum == t.read().count())
    // and a reader following only the chain reproduces read() exactly
    val viaExport = spark.read.schema(t.schema).parquet(chain.map(_._1): _*)
      .orderBy("arcane_merge_key").collect()
    val direct = t.read().orderBy("arcane_merge_key").collect()
    assert(viaExport.sameElements(direct))
    assert(!viaExport.exists(_.getString(0) == "k2"), "tombstoned key must not resurface")
  }

  test("iceberg export of an ORC table: file_format=ORC, footer row counts, chain resolves") {
    import graft.tables.IcebergExport
    import org.apache.hadoop.fs.Path
    val t = SnapshotTable(spark, tmpDir("snap-iceberg-orc"))
    val df = (1 to 80).map(i => (s"k$i", i.toLong, s"v$i")).toDF("arcane_merge_key", "versionnumber", "payload")
    t.createOrReplace(df, "arcane_merge_key", numBuckets = 4,
      extraProps = Map(SnapshotTable.PropFormat -> "orc"))
    val exportDir = tmpDir("snap-iceberg-orc-out")
    t.exportIceberg(exportDir)
    val fs = new Path(exportDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chain = IcebergExport.readDataFiles(fs, new Path(exportDir))
    assert(chain.map(_._2).sum == 80L, "ORC footer row counts must sum to the table size")
    val viaChain = spark.read.schema(t.schema).orc(chain.map(_._1): _*)
    assert(viaChain.count() == 80L)
    // an avro table is rejected loudly (no footer metadata to collect)
    val av = SnapshotTable(spark, tmpDir("snap-iceberg-avro"))
    av.createOrReplace(df, "arcane_merge_key", numBuckets = 2,
      extraProps = Map(SnapshotTable.PropFormat -> "avro"))
    val e = intercept[IllegalArgumentException] { av.exportIceberg(tmpDir("snap-iceberg-avro-out")) }
    assert(e.getMessage.contains("parquet/orc"))
  }

  test("iceberg export is incremental: history retained, parent links, time travel, idempotent, pruned") {
    import graft.tables.IcebergExport
    import org.apache.hadoop.fs.Path
    val t = freshTable("snap-iceberg-incr")
    t.addColumns(Seq(StructField("IsDelete", org.apache.spark.sql.types.BooleanType)))
    val exportDir = tmpDir("snap-iceberg-incr-out")
    val fs = new Path(exportDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    t.exportIceberg(exportDir)
    val id1 = IcebergExport.currentExportedSnapshotId(fs, new Path(exportDir)).get
    val preMergeRows = t.read().count()

    val change = Seq(("k1", 1000L, "updated", false), ("knew", 5L, "fresh", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change, "arcane_merge_key", "versionnumber", "IsDelete")
    val metaPath2 = t.exportIceberg(exportDir)
    assert(metaPath2.getName == "v2.metadata.json")
    val id2 = IcebergExport.currentExportedSnapshotId(fs, new Path(exportDir)).get
    assert(id2 != id1)

    // history: both snapshots retained, the new one linked to its parent
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(metaPath2)
    val meta = try mapper.readTree(new String(in.readAllBytes())) finally in.close()
    assert(meta.get("snapshots").size() == 2)
    assert(meta.get("snapshots").get(1).get("parent-snapshot-id").asLong() == id1)
    assert(meta.get("snapshot-log").size() == 2)

    // time travel THROUGH the export: the old snapshot still resolves to
    // the pre-merge row count; the current one to the live state
    val oldFiles = IcebergExport.readDataFiles(fs, new Path(exportDir), Some(id1))
    assert(oldFiles.map(_._2).sum == preMergeRows)
    val curFiles = IcebergExport.readDataFiles(fs, new Path(exportDir))
    assert(curFiles.map(_._2).sum == t.read().count())

    // idempotent: same table version re-exported → no new metadata version
    t.exportIceberg(exportDir)
    assert(IcebergExport.readVersionHint(fs, new Path(exportDir)) == "2")

    // pruning: with keepSnapshots=2, a third export drops the oldest
    // snapshot AND its manifest files
    val list1 = new Path(meta.get("snapshots").get(0).get("manifest-list").asText())
    val change2 = Seq(("k2", 2000L, "again", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "IsDelete")
    t.merge(change2, "arcane_merge_key", "versionnumber", "IsDelete")
    val snap3 = t.currentSnapshot
    val conf = spark.sparkContext.hadoopConfiguration
    val files3 = snap3.files.map { f =>
      val p = fs.makeQualified(new Path(s"${t.location}/data", f.path))
      IcebergExport.ExportFile(p.toString, fs.getFileStatus(p).getLen,
        graft.tables.FileStats.parquetRowCount(conf, p))
    }
    IcebergExport.write(fs, new Path(exportDir), t.schema, snap3.version,
      snap3.timestampMs, files3, snap3.properties, keepSnapshots = 2)
    val in3 = fs.open(new Path(new Path(exportDir, "metadata"), "v3.metadata.json"))
    val meta3 = try mapper.readTree(new String(in3.readAllBytes())) finally in3.close()
    assert(meta3.get("snapshots").size() == 2, "history window must cap at keepSnapshots")
    assert(!fs.exists(list1), "pruned snapshot's manifest list must be deleted")
    // the retained older snapshot still time-travels
    assert(IcebergExport.readDataFiles(fs, new Path(exportDir), Some(id2)).nonEmpty)
  }

  test("analyze records row count in properties") {
    val t = freshTable("snap-stats")
    t.analyze()
    assert(t.properties("stats.row_count") == "100")
  }

  test("analyze with includedColumns records min/max/null-count/ndv per column") {
    val t = freshTable("snap-colstats")
    t.analyze(Seq("versionnumber", "payload", "no_such_column"))
    val p = t.properties
    assert(p("stats.row_count") == "100")
    assert(p("stats.col.versionnumber.min") == "1")
    assert(p("stats.col.versionnumber.max") == "100")
    assert(p("stats.col.versionnumber.null_count") == "0")
    // HLL++ approximate NDV: within a few percent of the true 100
    assert(math.abs(p("stats.col.versionnumber.ndv").toLong - 100L) <= 5)
    assert(p("stats.col.payload.min") == "v1" && p("stats.col.payload.max") == "v99")
    assert(!p.contains("stats.col.no_such_column.min"), "unknown columns are ignored")
  }

  test("zorder: content identical, layout persisted, and 2D box scans touch fewer files than a linear sort") {
    import org.apache.spark.sql.functions._
    // a 64x64 (a,b) grid, one bucket so layout (not bucket hash) decides
    // placement, 256-row file cap -> 16 files per rewrite
    val grid = (0 until 4096).map(i => (s"k$i", i.toLong, (i / 64).toLong, (i % 64).toLong, false))
      .toDF("arcane_merge_key", "versionnumber", "a", "b", "is_del")
    def fileBoxes(t: SnapshotTable): Seq[(Long, Long, Long, Long)] =
      t.read().groupBy(input_file_name())
        .agg(min("a"), max("a"), min("b"), max("b"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // box predicate a<16 && b<16 (1/16 of the grid): how many files MUST be read
    def touched(boxes: Seq[(Long, Long, Long, Long)]): Int =
      boxes.count { case (la, ha, lb, _) => la < 16 && ha >= 0 && lb < 16 }

    val lin = SnapshotTable(spark, tmpDir("snap-zorder-lin"))
    lin.createOrReplace(grid, "arcane_merge_key", numBuckets = 1,
      extraProps = Map(SnapshotTable.PropMaxRowsPerFile -> "256",
        SnapshotTable.PropSortOrder -> "a"))
    val z = SnapshotTable(spark, tmpDir("snap-zorder"))
    z.createOrReplace(grid, "arcane_merge_key", numBuckets = 1,
      extraProps = Map(SnapshotTable.PropMaxRowsPerFile -> "256"))
    z.zorder(Seq("a", "b"))

    // layout change only: content bit-identical to the linear table
    val zRows = z.read().select("arcane_merge_key", "versionnumber", "a", "b")
      .as[(String, Long, Long, Long)].collect().toSet
    val linRows = lin.read().select("arcane_merge_key", "versionnumber", "a", "b")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(zRows == linRows && zRows.size == 4096)
    assert(z.properties(SnapshotTable.PropZOrderColumns) == "a,b")

    val (zBoxes, linBoxes) = (fileBoxes(z), fileBoxes(lin))
    assert(zBoxes.size > 4, s"file cap should split the rewrite (${zBoxes.size} files)")
    // linear sort on a: every file spans all of b, so the box scan reads
    // every file overlapping a<16; z-order confines the box to the curve
    // cells inside it
    val (zt, lt) = (touched(zBoxes), touched(linBoxes))
    assert(zt < lt, s"z-order must prune better than linear sort ($zt vs $lt files)")
    assert(zt <= 2, s"a 1/16-area box should touch at most 2 of ${zBoxes.size} z-files, got $zt")

    // the persisted layout survives later writes: a merge rewrite keeps
    // z-sorting, so boxes stay tight after an update
    val upd = Seq(("k0", 2L, 0L, 0L, false)).toDF("arcane_merge_key", "versionnumber", "a", "b", "is_del")
    z.merge(upd, "arcane_merge_key", "versionnumber", "is_del")
    assert(touched(fileBoxes(z)) <= 2 + 1, "post-merge layout should stay box-clustered")
  }

  test("zvalue with 4 columns never sets the sign bit (upper ranks must not sort negative)") {
    import org.apache.spark.sql.functions._
    val df = (0 until 1000).map { i =>
      (i.toLong, (i * 7 % 1000).toLong, (i * 13 % 1000).toLong, (i * 29 % 1000).toLong)
    }.toDF("a", "b", "c", "d")
    val z = graft.tables.ZOrder.zvalue(df, Seq("a", "b", "c", "d"))
    val mn = df.select(min(z)).head().getLong(0)
    assert(mn >= 0L, s"negative z-value $mn: column 4's top rank bit landed on the long sign bit")
    // and the curve still orders: max is positive and distinct values exist
    assert(df.select(countDistinct(z)).head().getLong(0) > 100)
  }

  test("readRange: manifest stats skip files before the scan; results stay exact") {
    import org.apache.spark.sql.functions._
    val grid = (0 until 4096).map(i => (s"k$i", i.toLong, (i / 64).toLong, (i % 64).toLong, false))
      .toDF("arcane_merge_key", "versionnumber", "a", "b", "is_del")
    val t = SnapshotTable(spark, tmpDir("snap-readrange"))
    t.createOrReplace(grid, "arcane_merge_key", numBuckets = 1,
      extraProps = Map(SnapshotTable.PropMaxRowsPerFile -> "256",
        SnapshotTable.PropStatsColumns -> "a",
        SnapshotTable.PropSortOrder -> "a"))
    // manifest carries per-file min/max for a
    val snap = t.currentSnapshot
    assert(snap.files.size > 4 && snap.files.forall(_.stats.contains("a")),
      s"every file should carry stats for a: ${snap.files.map(_.stats)}")
    // the manifest round-trips stats through JSON
    val reparsed = SnapshotTable.fromJson(SnapshotTable.toJson(snap))
    assert(reparsed.files.map(_.stats) == snap.files.map(_.stats))
    // exactness: readRange == full-scan filter
    val exact = t.read().where(col("a") >= 4 && col("a") <= 7)
      .select("arcane_merge_key").as[String].collect().toSet
    val ranged = t.readRange("a", 4.0, 7.0)
    assert(ranged.select("arcane_merge_key").as[String].collect().toSet == exact)
    assert(exact.size == 4 * 64)
    // skipping: the pruned scan touches fewer files than the manifest holds
    val scanned = ranged.select(input_file_name()).distinct().count()
    assert(scanned <= 2, s"a 4/64 a-slice should touch <= 2 of ${snap.files.size} sorted files, got $scanned")
    // files WITHOUT stats are always kept: a column not in the stats set
    // prunes nothing but still answers exactly
    val noStats = t.readRange("b", 10.0, 12.0)
    assert(noStats.select(input_file_name()).distinct().count() == snap.files.size.toLong)
    assert(noStats.count() == t.read().where(col("b").between(10, 12)).count())
  }

  test("readRange: bounds outside the column type's range clamp instead of overflowing") {
    import org.apache.spark.sql.functions._
    val rows = (0 until 100).map(i => (s"k$i", i.toLong, i, i.toShort)).toDF(
      "arcane_merge_key", "versionnumber", "int_col", "short_col")
    val t = SnapshotTable(spark, tmpDir("snap-readrange-clamp"))
    t.createOrReplace(rows, "arcane_merge_key", numBuckets = 1)
    // hi beyond Int.MaxValue used as "no upper cap": the unclamped cast
    // would throw CAST_OVERFLOW under ANSI (or wrap with ANSI off and drop
    // rows); clamped it means "unbounded above" and returns every row >= lo
    assert(t.readRange("int_col", 50.0, 1e10).count() == 50)
    // lo below the type's min is "unbounded below"
    assert(t.readRange("int_col", -1e10, 9.0).count() == 10)
    // both bounds beyond the type range on one side: empty, no error
    assert(t.readRange("int_col", 1e10, 2e10).count() == 0)
    assert(t.readRange("short_col", -2e10, -1e10).count() == 0)
    // inward rounding can cross (lo=4.6, hi=4.4): empty, no error
    assert(t.readRange("int_col", 4.6, 4.4).count() == 0)
    // short column clamps at its own bounds, not Long's
    assert(t.readRange("short_col", 90.0, 1e6).count() == 10)
  }

  test("adoptFiles: metadata-only commit, foreign bytes referenced in place, merge absorbs") {
    import org.apache.spark.sql.types.BooleanType
    val loc = tmpDir("snap-adopt")
    val t = SnapshotTable(spark, loc)
    val base = (1 to 100).map(i => (s"k$i", 1L, s"v$i", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_del")
    t.createOrReplace(base, "arcane_merge_key", numBuckets = 4)

    // a FOREIGN engine writes plain parquet (no bucket layout, no manifest)
    val foreignDir = tmpDir("snap-adopt-foreign")
    (101 to 150).map(i => (s"k$i", 1L, s"ext$i", false))
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_del")
      .coalesce(1).write.mode("overwrite").parquet(foreignDir)
    val parts = new java.io.File(foreignDir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq

    def dataFiles(): Set[String] = {
      val d = new java.io.File(s"$loc/data")
      if (!d.exists) Set.empty
      else java.nio.file.Files.walk(d.toPath).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    }
    val before = dataFiles()
    val snapAdopt = t.adoptFiles(parts)
    // ADOPT-DON'T-REWRITE, plan-pinned three ways: (1) no new bytes under
    // the table's own data dir, (2) the manifest entry is the foreign path
    // at bucket -1, (3) the scan reads the foreign file itself
    assert(dataFiles() == before, "adoption must not write table data files")
    val adoptedEntries = snapAdopt.files.filter(_.bucket == SnapshotTable.AdoptedBucket)
    assert(adoptedEntries.map(f => new java.net.URI(f.path).getPath).toSet ==
      parts.map(p => new java.io.File(p).getAbsolutePath).toSet)
    val scanned = t.read().select(input_file_name()).distinct().as[String].collect()
    assert(scanned.exists(_.contains(new java.io.File(foreignDir).getName)),
      s"scan must read the foreign file in place: $scanned")
    assert(t.read().count() == 150)

    // bucket-pruned reads keep the exact bucket contract with adopted rows
    val b0 = t.read(Some(Set(0)))
    val expectB0 = t.read().where(expr("iceberg_bucket(arcane_merge_key, 4)") === 0)
    assert(b0.select("arcane_merge_key").as[String].collect().sorted.toSeq ==
      expectB0.select("arcane_merge_key").as[String].collect().sorted.toSeq)

    // changesBetween across the adoption: every adopted row is an insert
    val changes = t.changesBetween(snapAdopt.version - 1, snapAdopt.version)
    assert(changes.where(col("_change_type") === "insert").count() == 50)
    assert(changes.count() == 50)

    // merge ABSORBS: staged updates hit both native and adopted keys; the
    // adopted entries leave the manifest, rows land in real buckets, and
    // the foreign file survives on disk (the table never owned it)
    val staged = Seq(
      ("k120", 2L, "upd-adopted", false),
      ("k5", 2L, "upd-native", false),
      ("k130", 2L, null.asInstanceOf[String], true)) // tombstone an adopted key
      .toDF("arcane_merge_key", "versionnumber", "payload", "is_del")
    val snapMerged = t.merge(staged, "arcane_merge_key", "versionnumber", "is_del")
    assert(!snapMerged.files.exists(_.bucket < 0), "merge must absorb adopted files")
    assert(parts.forall(p => new java.io.File(p).exists), "foreign bytes must be left untouched")
    val rows = t.read().select("arcane_merge_key", "payload").as[(String, String)].collect().toMap
    assert(rows.size == 149 && !rows.contains("k130"))
    assert(rows("k120") == "upd-adopted" && rows("k5") == "upd-native" && rows("k101") == "ext101")

    // rebucketAdopted absorbs without a merge, and compact() runs it
    val t2 = SnapshotTable(spark, tmpDir("snap-adopt2"))
    t2.createOrReplace(base, "arcane_merge_key", numBuckets = 4)
    t2.adoptFiles(parts)
    t2.compact(fileSizeThresholdBytes = Long.MaxValue)
    assert(!t2.currentSnapshot.files.exists(_.bucket < 0))
    assert(t2.read().count() == 150)
    // no duplicate keys after absorption
    assert(t2.read().select("arcane_merge_key").distinct().count() == 150)

    // validation is loud: unknown column, missing key, wrong type
    val badDir = tmpDir("snap-adopt-bad")
    (1 to 5).map(i => (s"x$i", i)).toDF("arcane_merge_key", "not_a_column")
      .coalesce(1).write.mode("overwrite").parquet(badDir)
    val badParts = new java.io.File(badDir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
    val e1 = intercept[IllegalArgumentException] { t2.adoptFiles(badParts) }
    assert(e1.getMessage.contains("not_a_column"))
    val badDir2 = tmpDir("snap-adopt-bad2")
    (1 to 5).map(i => (s"x$i", i)).toDF("arcane_merge_key", "versionnumber") // int, not long
      .coalesce(1).write.mode("overwrite").parquet(badDir2)
    val badParts2 = new java.io.File(badDir2).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
    val e2 = intercept[IllegalArgumentException] { t2.adoptFiles(badParts2) }
    assert(e2.getMessage.contains("versionnumber"))
  }

  test("allConcurrently joins every action and rethrows the first failure, others suppressed") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      SnapshotTable.allConcurrently[Unit](Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(slowDone.get(), "a failure must not return before every action ends")
    val both = intercept[IllegalStateException] {
      SnapshotTable.inParallel(throw new IllegalStateException("a"), throw new IllegalArgumentException("b"))
    }
    assert(both.getMessage == "a" && both.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
    assert(SnapshotTable.inParallel(1, "x") == ((1, "x")))
  }
}
