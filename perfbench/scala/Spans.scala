package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spark work attributed to one span: the jobs and tasks run under the
  * span's job group. */
final case class Work(var jobs: Long = 0, var tasks: Long = 0, var taskMs: Long = 0,
    var inputBytes: Long = 0, var shuffleWriteBytes: Long = 0, var gcMs: Long = 0)

/** Job-group keyed listener: every job started under a job group adds its
  * tasks' metrics to that group.  Jobs started outside any group (e.g. on
  * an engine thread pool created before the span began) land under "". */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Work]

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, Work())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    work(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskMs += m.executorRunTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.gcMs += m.jvmGCTime
    }
  }

  def take(g: String): Work = synchronized(byGroup.remove(g).getOrElse(Work()))
}

/** One timed span: a named call into the engine, with its wall time, the
  * Spark work under its job group and the files it opened through the
  * `counting:` filesystem. */
final case class Span(layer: String, name: String, wallMs: Double, work: Work,
    filesOpened: Long, bytesOpened: Long)

/** Runs spans one after another on the calling thread.  Each span runs
  * under its own job group; after it returns, the listener bus is drained
  * so the span's task metrics are complete before the next span starts. */
final class Spans(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)
  private var seq = 0L
  val done = mutable.ArrayBuffer.empty[Span]

  def apply[T](layer: String, name: String)(f: => T): T = {
    seq += 1
    val group = s"perfbench-$seq"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    graft.CountingFileSystem.reset()
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      val (files, bytes) = graft.CountingFileSystem.openedStats
      org.apache.spark.PerfbenchBus.drain(sc)
      done += Span(layer, name, wall, listener.take(group), files, bytes)
    }
  }

  /** Work no span claimed (jobs started outside any job group). */
  def unattributed: Work = { org.apache.spark.PerfbenchBus.drain(sc); listener.take("") }
}
