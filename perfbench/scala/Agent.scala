package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ops.MergeKey
import graft.tables.{DeltaExport, IcebergExport, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's own JVM: the point-lookup reader, the checker and the
  * query_mix client.  It takes one JSON command per stdin line and answers
  * each with one `@@ {json}` line on stdout (Spark logs go to stderr).
  * Long commands (`lookups`) run on their own thread and answer when done,
  * so the caller can keep pacing folders meanwhile.
  *
  * Usage: Agent <master>   (e.g. local[1] for the reader, local[4] for
  * query_mix and the traced replay)
  */
object Agent {
  val mapper = new ObjectMapper()
  private val out = new PrintWriter(System.out, true)

  def reply(node: ObjectNode): Unit = out.synchronized { out.println("@@ " + mapper.writeValueAsString(node)) }

  def obj(kv: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    kv.foreach {
      case (k, v: String)  => n.put(k, v)
      case (k, v: Int)     => n.put(k, v)
      case (k, v: Long)    => n.put(k, v)
      case (k, v: Double)  => n.put(k, v)
      case (k, v: Boolean) => n.put(k, v)
      case (k, v: JsonNode) => n.set[JsonNode](k, v)
      case (k, null)       => n.putNull(k)
      case (k, v)          => n.put(k, v.toString)
    }
    n
  }

  /** The engine session: every setting below is copied from
    * `graft.app.Main`'s builder, so the benchmark's in-process work runs
    * under the shipped configuration.  It is the one copy of that config
    * the benchmark keeps; it goes away once the engine exposes a shared
    * session builder.
    */
  def engineSession(master: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.speculation", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.counting.impl", classOf[graft.CountingFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.counting.impl",
        classOf[graft.CountingAbstractFileSystem].getName)
      .getOrCreate()

  val SessionKeys: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.extensions",
    "spark.sql.codegen.cache.maxEntries",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "spark.speculation")

  def main(args: Array[String]): Unit = {
    val master = args.headOption.getOrElse("local[1]")
    val cpus = "\\d+".r.findFirstIn(master).map(_.toInt).getOrElse(1)
    val t0 = System.nanoTime()
    val spark = engineSession(master, cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftExtensions.ensureRegistered(spark)
    val conf = mapper.createObjectNode()
    SessionKeys.foreach(k => conf.put(k, spark.conf.getOption(k).getOrElse("")))
    reply(obj("event" -> "ready", "session_ms" -> (System.nanoTime() - t0) / 1e6, "conf" -> conf))
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var threads = List.empty[Thread]
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val cmd = mapper.readTree(line)
      val id = cmd.path("id").asText("")
      def run(): Unit =
        try reply(dispatch(spark, cmd).put("id", id).put("ok", true))
        catch {
          case e: Throwable =>
            e.printStackTrace()
            reply(obj("id" -> id, "ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}"))
        }
      if (cmd.path("async").asBoolean(false)) {
        val t = new Thread(() => run(), s"perfbench-$id")
        t.start()
        threads ::= t
      } else run()
      line = in.readLine()
    }
    threads.foreach(_.join())
    spark.stop()
  }

  def dispatch(spark: SparkSession, c: JsonNode): ObjectNode = c.path("op").asText() match {
    case "lookups"      => Lookups.run(spark, c)
    case "stop_lookups" => Lookups.stop(); obj()
    case "dump"         => dump(spark, c)
    case "load_table"   => loadTable(spark, c)
    case "queries"      => QueryMix.run(spark, c)
    case "replay"       => Replay.run(spark, c)
    case "query_names"  =>
      val a = mapper.createArrayNode()
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(a.add)
      obj("names" -> a)
    case other          => throw new IllegalArgumentException(s"unknown op $other")
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Write a table's rows (the checked columns) as one parquet directory
    * for the checker, read back the way its users read it. */
  def dump(spark: SparkSession, c: JsonNode): ObjectNode = {
    val loc = c.path("path").asText()
    val df: DataFrame = c.path("kind").asText() match {
      case "snapshot" => SnapshotTable(spark, loc).read()
      case "iceberg"  => IcebergExport.readTable(spark, loc)
      case "delta"    => DeltaExport.readTable(spark, new org.apache.hadoop.fs.Path(loc))
    }
    val cols = strings(c.path("cols")).map(col)
    df.select(cols: _*).coalesce(1).write.mode("overwrite").parquet(c.path("out").asText())
    obj()
  }

  /** query_mix's lookup table: `orders` as a bucketed snapshot table keyed
    * like a CDC target, created `reps` times (fresh locations) so the load
    * time is a median. */
  def loadTable(spark: SparkSession, c: JsonNode): ObjectNode = {
    val src = spark.read.parquet(c.path("source").asText())
    val keyCol = c.path("key").asText()
    val staged = MergeKey(src, Seq(keyCol)).localCheckpoint()
    val rows = staged.count()
    val times = mapper.createArrayNode()
    (0 until c.path("reps").asInt(1)).foreach { i =>
      val t = System.nanoTime()
      SnapshotTable(spark, s"${c.path("path").asText()}_$i")
        .createOrReplace(staged, MergeKey.ColumnName, c.path("buckets").asInt(10))
      times.add((System.nanoTime() - t) / 1e6)
    }
    obj("rows" -> rows, "ms" -> times)
  }

  def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
}
