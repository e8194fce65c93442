package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ops.MergeKey
import graft.tables.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Open-loop point lookups by key on one thread: lookup i is due at
  * `start_ms + i * period_ms` (epoch ms) and timed from when it was due,
  * so a slow lookup delays the ones behind it and they pay for it.  Each
  * lookup is the bucket-pruned `SnapshotTable.read(Some(bucket))` plus a
  * key filter, the read path a serving client would use.  The table
  * watermark is read before and after each lookup, so the checker knows
  * which committed states the answer may come from.
  *
  * With `until_stopped` the keys are taken in a cycle until `stop()` is
  * called, so the reader runs beside the whole of another phase however
  * long it takes.
  */
object Lookups {
  private val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)

  def stop(): Unit = stopped.set(true)

  def run(spark: SparkSession, c: JsonNode): ObjectNode = {
    val cycle = c.path("until_stopped").asBoolean(false)
    stopped.set(false)
    val table = SnapshotTable(spark, c.path("table").asText())
    val keyCol = c.path("key_col").asText()
    val keyType = c.path("key_type").asText("string")
    val versionCol = c.path("version_col").asText()
    val keys = Agent.strings(c.path("keys")).toArray
    val start = c.path("start_ms").asLong()
    val period = c.path("period_ms").asDouble()
    val snap = table.currentSnapshot
    val n = snap.numBuckets
    val fn = SnapshotTable.bucketFnOf(snap.properties)
    import spark.implicits._
    // every key's bucket in one job, before the first lookup is due
    val bucketOf: Map[String, Int] = keys.toSeq.toDF("k")
      .select(col("k"), SnapshotTable.bucketColumn(
        MergeKey.expression(Seq(col("k").cast(keyType))), n, fn))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def wm(): String = table.properties.getOrElse(SnapshotTable.PropWatermark, "")
    // due times on the monotonic clock, anchored once to the epoch start
    val anchor = System.nanoTime() - (System.currentTimeMillis() - start) * 1000000L
    def lookup(i: Int, key: String, due: Long): String = {
      val t0 = System.nanoTime()
      // A read racing a commit can find `_current` missing or see it
      // before its checksum file (FileNotFoundException,
      // ChecksumException); like any IOException it is retried with a
      // short backoff, and the retries are reported.
      var tries = 0
      var res: Either[String, (String, Array[Long], String)] = Left("")
      while (tries < 6 && (tries == 0 || res.isLeft)) {
        if (tries > 0) Thread.sleep(10L << tries)
        tries += 1
        res = try {
          val before = wm()
          val got = table.read(Some(Set(bucketOf(key))))
            .where(col(keyCol) === lit(key).cast(keyType))
            .select(col(versionCol).cast("long")).collect().map(_.getLong(0))
          Right((before, got, wm()))
        } catch { case e: java.io.IOException => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      }
      val end = System.nanoTime()
      val serviceMs = (end - t0) / 1e6
      val (before, got, after) = res.getOrElse(("", Array.empty[Long], ""))
      Agent.mapper.writeValueAsString(Agent.obj("i" -> i, "key" -> key,
        "latency_ms" -> ((end - due) / 1e6).max(serviceMs), "service_ms" -> serviceMs,
        "retries" -> (tries - 1), "error" -> res.left.toOption.orNull,
        "wm_before" -> before, "wm_after" -> after, "versions" -> got.mkString(",")))
    }

    val lines = Vector.newBuilder[String]
    var i = 0
    def more = if (cycle) !stopped.get else i < keys.length
    while (more) {
      val due = anchor + math.round(i * period * 1e6)
      val wait = (due - System.nanoTime()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      if (more) lines += lookup(i, keys(i % keys.length), due)
      i += 1
    }
    val out = lines.result()
    Agent.writeLines(c.path("out").asText(), out)
    Agent.obj("count" -> out.size)
  }
}
