package graft

import graft.tables.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

/** The one engine session builder. The production entry point
  * (`graft.app.Main`), the `Bench`/`Verify` mains, the `Prof` dev tool and
  * the test suite all build their session here, so the suite and the
  * oracle gate run under the configuration that ships.
  */
object EngineSession {

  /** Settings every engine session carries. */
  val Settings: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.sql.GraftExtensions",
    // Long-lived micro-batch streams re-plan the same query shapes every
    // trigger; Spark's default 100-entry generated-class cache thrashes
    // across the pipeline's distinct stages and re-pays Janino
    // compilation (~0.2-0.5 s per stage) every trigger. The bench hits the
    // same wall: 189 queries × O(10) codegen'd stages evict every entry
    // between a query's passes. Sized to hold the full working set.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // Committer v2 + no _SUCCESS markers: task commits move files into
    // the output directly instead of a serial driver-side job-commit
    // rename pass (O(write tasks) renames per commit at stream
    // cadence). Safe HERE because atomicity/visibility comes from the
    // MANIFEST commit, not the job commit: a failed write job's
    // partial task files live in a commit-UUID dir no snapshot ever
    // references (a retry uses a fresh UUID; remove_orphan_files reaps
    // them), and nothing reads _SUCCESS (manifests list part- files
    // explicitly). Measured: −25% per bucketed write job.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    // Pinned OFF explicitly (it is the default) because the v2-committer
    // safety argument above leans on it: the post-job manifest listing
    // records every file in the commit-UUID dir as live data, which is
    // only sound when exactly one attempt per task commits — v2 task
    // commits are coordinator-arbitrated, but SPECULATIVE duplicate
    // attempts racing nondeterministic recomputation into different
    // gbk= partitions could leave an orphan part- file inside the live
    // commit dir. Deterministic bucketing (repartition by gbk of
    // deterministic input) plus no speculation closes that window.
    "spark.speculation" -> "false",
    // `file:` without forked processes (`tables.ForkFreeLocalFs`): with no
    // libhadoop, the stock local filesystem forks `chmod` after every
    // create and mkdir and `readlink` on every FileContext rename, ~120
    // processes per copy-on-write batch. Both bindings, because the
    // streaming checkpoint and `AtomicRename` publish through FileContext.
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The core count `SPARK_GRAFT_CPUS` names, if it is set. */
  def envCpus: Option[Int] = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Option[Int] = v.map { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** `local[n]` for a known core count, else every core. */
  private[graft] def localMaster(cpus: Option[Int]): String = s"local[${cpus.fold("*")(_.toString)}]"

  /** One shuffle partition per core: the named count, else the session's
    * own default parallelism (what `local[*]` or the cluster resolved to).
    */
  private[graft] def shufflePartitions(cpus: Option[Int], defaultParallelism: => Int): Int =
    cpus.getOrElse(defaultParallelism)

  /** Build (or join) the engine session. `cpus` sizes the local master and
    * the shuffle (unset: every core and the resolved parallelism); `master`
    * overrides the local master (spark-submit, a cluster); `keepUi` leaves
    * `spark.ui.enabled` to the launcher (the long-running process keeps it).
    */
  def apply(appName: String, cpus: Option[Int] = envCpus, master: Option[String] = None,
            keepUi: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(localMaster(cpus)))
      .appName(appName)
    Settings.foreach { case (k, v) => builder.config(k, v) }
    if (!keepUi) builder.config("spark.ui.enabled", "false")
    val spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions(cpus, spark.sparkContext.defaultParallelism).toLong)
    checkLocalBinding(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** The (FileSystem, AbstractFileSystem) classes `file:` resolves to
    * under `conf`.
    */
  private[graft] def localFsClasses(conf: Configuration): (Class[_], Class[_]) = {
    val local = URI.create("file:///")
    (FileSystem.get(local, conf).getClass, AbstractFileSystem.get(local, conf).getClass)
  }

  private val bindingWarned = new AtomicBoolean(false)

  // Hadoop caches a FileSystem by scheme and user, not by conf: one that
  // something in the JVM obtained before this session was built (or a
  // session joined rather than built) keeps the stock class for the life
  // of the JVM. That only costs time, so it is a warning, once.
  private def checkLocalBinding(conf: Configuration): Unit = {
    val (fs, afs) = localFsClasses(conf)
    if ((fs != classOf[ForkFreeLocalFileSystem] || afs != classOf[ForkFreeLocalFs]) &&
        bindingWarned.compareAndSet(false, true))
      System.err.println(
        s"LOCAL FS BINDING: 'file:' resolves to ${fs.getName} and ${afs.getName}, not the " +
          "fork-free binding (a FileSystem cached before the session was built wins) — every " +
          "local create, mkdir and rename now forks a process")
  }
}
