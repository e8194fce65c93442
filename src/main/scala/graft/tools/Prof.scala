package graft.tools

import graft.SparkEntry
import graft.queries.Queries
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Dev profiler over the registered gate queries, one mode per question.
  * Without query names a mode covers every query (`profile` and `time` need names).
  *  - `runMain graft.tools.Prof plan <sfDir> [query ...]` — formatted static physical plan
  *  - `runMain graft.tools.Prof aqe <sfDir> [query ...]` — final adaptive plan after draining the frame
  *  - `runMain graft.tools.Prof build <sfDir> [query ...]` — construction ms, min of 2 warm builds, never executed
  *  - `runMain graft.tools.Prof profile <sfDir> <query ...>` — build/analyze/optimize/plan/exec ms + job/stage attribution
  *  - `runMain graft.tools.Prof time <sfDir> <reps> <query ...>` — N warm reps; also `export_profile`, `degraded`, `incwork`, `cdcwork`
  */
object Prof {
  final class StageAgg {
    var details = ""
    var tasks = 0
    var taskTimeMs, deserMs, gcMs, inputBytes, shuffleReadBytes, shuffleWriteBytes, wallMs = 0L
  }

  class Listener extends SparkListener {
    val jobs = mutable.ArrayBuffer[(Int, Long, String)]() // id, durMs, desc
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    private val jobStart = mutable.Map[Int, (Long, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart(e.jobId) = (e.time, desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobStart.remove(e.jobId).foreach { case (t0, desc) =>
        jobs += ((e.jobId, e.time - t0, desc))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val agg = stages.getOrElseUpdate(si.stageId, new StageAgg)
      agg.details = si.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("Prof")).getOrElse("").trim
      agg.tasks += si.numTasks
      agg.wallMs += (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stages.getOrElseUpdate(e.stageId, new StageAgg)
      val m = e.taskMetrics
      if (m != null) {
        agg.taskTimeMs += m.executorRunTime
        agg.deserMs += m.executorDeserializeTime
        agg.gcMs += m.jvmGCTime
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val Modes = Seq("plan", "aqe", "build", "profile", "time")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes.contains(args(0)),
      s"usage: Prof <${Modes.mkString("|")}> <sfDir> [args ...] (see the scaladoc)")
    val (mode, sfDir) = (args(0), args(1))
    val reps = if (mode == "time") args(2).toInt else 1
    val named = args.drop(if (mode == "time") 3 else 2).toSeq
    require(named.nonEmpty || !Set("profile", "time")(mode), s"$mode needs query names")
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.EngineSession("graft-prof")
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      case "plan" | "aqe" => names.foreach { n =>
        println(s"\n========== $n ==========")
        val df = query(n)(spark, sfDir)
        if (mode == "plan") df.explain("formatted")
        else {
          // Drive THIS df's own query execution (count() would build a NEW
          // one around an added aggregate, leaving this AdaptiveSparkPlan
          // unexecuted — isFinalPlan=false). toLocalIterator streams
          // partitions, so row-heavy gates don't materialise on the driver.
          val it = df.toLocalIterator()
          while (it.hasNext) it.next()
          println(df.queryExecution.executedPlan.toString)
        }
      }
      case "build" => build(spark, sfDir, names)
      case "profile" => names.foreach(n => profile(spark, sfDir, n))
      case "time" => names.foreach { n =>
        (1 to reps).foreach { r =>
          val t0 = System.nanoTime()
          val out = n match {
            case "export_profile" => Queries.exportProfileJson(spark, sfDir)
            case "degraded" => Queries.degradedPathsJson(spark, sfDir)
            case "incwork" => Queries.incrementalTierWorkJson(spark, sfDir)
            case "cdcwork" => Queries.cdcPipelineWorkJson(spark, sfDir)
            case _ => s"${query(n)(spark, sfDir).count()} rows"
          }
          println(f"$n rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s ($out)")
        }
      }
    } finally spark.stop()
  }

  private def query(n: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(
      s"unknown query '$n' — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

  private def build(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    // Queries that run pipeline fixtures inside their builder read as
    // "fixture + construction"; the rest as pure driver-side plan building.
    val out = names.flatMap { n =>
      val fn = query(n)
      try {
        fn(spark, sfDir) // warm (schema inference, fixture materialisation)
        val t0 = System.nanoTime()
        fn(spark, sfDir)
        val t1 = System.nanoTime()
        fn(spark, sfDir)
        val t2 = System.nanoTime()
        Some((n, math.min(t1 - t0, t2 - t1) / 1e6))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[prof build] $n failed: ${e.getMessage}")
          None
      }
    }
    println("\n==== construction ms (min of 2, descending) ====")
    out.sortBy(-_._2).foreach { case (n, ms) => println(f"$n%-40s ${ms}%9.1f ms") }
    println(f"TOTAL build ms: ${out.map(_._2).sum}%.1f over ${out.size} queries")
  }

  private def profile(spark: SparkSession, sfDir: String, n: String): Unit = {
    val fn = query(n)
    fn(spark, sfDir).count() // warm pass (per-shape init), unprofiled
    fn(spark, sfDir).count() // second warm pass = bench steady state
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    val qe = df.queryExecution
    qe.assertAnalyzed()
    val t2 = System.nanoTime()
    qe.optimizedPlan // forces optimization
    val t3 = System.nanoTime()
    qe.executedPlan // forces physical planning
    val t4 = System.nanoTime()
    val rows = qe.toRdd.count() // executes (incl. AQE re-planning)
    val t5 = System.nanoTime()
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    def ms(a: Long, b: Long): String = f"${(b - a) / 1e6}%.1f"
    println(f"%n===== $n wall=${(t5 - t0) / 1e9}%.3f s jobs=${listener.jobs.size} rows=$rows =====")
    println(s"build=${ms(t0, t1)} analyze=${ms(t1, t2)} optimize=${ms(t2, t3)} " +
      s"plan=${ms(t3, t4)} exec=${ms(t4, t5)} ms")
    val jobTotal = listener.jobs.map(_._2).sum
    println(f"job wall sum=${jobTotal / 1000.0}%.3f s (gaps = driver work: planning, footer IO, fs ops)")
    listener.jobs.sortBy(-_._2).take(15).foreach { case (id, ms, desc) =>
      println(f"  job $id%3d ${ms / 1000.0}%7.3f s  $desc")
    }
    println("  top stages by wall time:")
    listener.stages.toSeq.sortBy(-_._2.wallMs).take(20).foreach { case (sid, a) =>
      println(f"  stage $sid%4d wall=${a.wallMs / 1000.0}%7.3f task=${a.taskTimeMs / 1000.0}%8.3f " +
        f"deser=${a.deserMs / 1000.0}%7.3f gc=${a.gcMs / 1000.0}%6.3f " +
        f"tasks=${a.tasks}%4d in=${a.inputBytes / 1e6}%6.1f sr=${a.shuffleReadBytes / 1e6}%6.1f " +
        f"sw=${a.shuffleWriteBytes / 1e6}%6.1f  ${a.details.take(90)}")
    }
  }
}
