package graft.app

import graft.pipeline.{CdcPipeline, StreamSpec}
import org.apache.spark.sql.SparkSession

/** Process entry point — reference lifecycle parity (SURVEY.md §2.A25):
  * configuration arrives as one JSON document in `STREAMCONTEXT__SPEC`,
  * mode is selected by `STREAMCONTEXT__BACKFILL`, SIGTERM stops the stream
  * gracefully, and retryable failures exit with code 2 (the reference's
  * `StreamFailException` convention — K8s restarts the Job on it,
  * `/root/reference/.helm/values.yaml:174-177`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val specJson = sys.env.getOrElse("STREAMCONTEXT__SPEC",
      args.headOption.getOrElse(sys.error("pass spec JSON via STREAMCONTEXT__SPEC or argv[0]")))
    val backfill = sys.env.get("STREAMCONTEXT__BACKFILL").exists(_.equalsIgnoreCase("true"))
    val maintenance = sys.env.get("STREAMCONTEXT__MAINTENANCE").exists(_.equalsIgnoreCase("true"))
    val spec0 = StreamSpec.fromJson(specJson)
    val spec = spec0.copy(backfill = spec0.backfill || backfill,
      maintenanceRun = spec0.maintenanceRun || maintenance)

    // spark-submit injects spark.master; standalone runs default to local.
    val spark = graft.EngineSession(s"synapse-cdm-stream:${spec.entityName}",
      master = sys.props.get("spark.master").orElse(sys.env.get("SPARK_MASTER")),
      keepUi = true)

    val exit = try run(spark, spec) finally spark.stop()
    if (exit != 0) sys.exit(exit)
  }

  /** The whole lifecycle minus session creation/teardown and the process
    * exit — testable in-JVM: returns the exit code the process would use
    * (0 success, 2 retryable failure, 1 fatal).
    */
  private[graft] def run(spark: SparkSession, spec: StreamSpec): Int = {
    // Set by the SIGTERM hook BEFORE query.stop(): when the stop races an
    // in-flight micro-batch, Spark surfaces the cancelled batch as a
    // StreamingQueryException — that is a GRACEFUL stop (the uncommitted
    // batch replays from the checkpoint on restart; the merge is
    // idempotent), not a stream failure.
    val stopping = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      if (spec.maintenanceRun) { CdcPipeline.runMaintenance(spark, spec); 0 }
      else if (spec.backfill) { CdcPipeline.runBackfill(spark, spec); 0 }
      else {
        val query = CdcPipeline.startStream(spark, spec)
        sys.addShutdownHook { stopping.set(true); if (query.isActive) query.stop() }
        query.awaitTermination()
        0
      }
    } catch {
      // Graceful-stop path: ONLY the cancelled in-flight batch surfacing
      // through awaitTermination is a clean stop. A genuine merge/commit
      // failure (or OOM) racing the shutdown hook falls through to the
      // retryable/fatal classifier below — exiting 0 on it would mask a
      // real failure as stream_stopped.
      case e: Throwable if stopping.get() && isCancellation(e) =>
        graft.pipeline.JsonLog.info("stream_stopped",
          "message" -> e.getMessage, "in_flight_batch_cancelled" -> true)
        0
      case e: Throwable =>
        val retryable = isRetryable(e, spec.retryableFailureMessages)
        graft.pipeline.JsonLog.error("stream_failed",
          "message" -> e.getMessage, "retryable" -> retryable,
          "exit_code" -> (if (retryable) 2 else 1))
        if (retryable) 2 else 1
    }
  }

  /** Transient infrastructure failures → exit 2 (K8s restarts the Job, the
    * reference's StreamFailException convention); logic errors → 1.
    * Retryable = any IOException in the cause chain, plus any failure whose
    * message matches the spec's `retryableFailureMessages` substrings (the
    * message-content matcher shared with the in-place query retry).
    */
  private[graft] def isRetryable(e: Throwable, retryableMessages: Seq[String]): Boolean =
    graft.pipeline.RetryPolicy.ioChain(e) ||
      graft.pipeline.RetryPolicy.messageMatches(e, retryableMessages)

  /** True iff the failure is the stop-raced batch cancellation: a
    * cancellation/interrupt type, or a job-cancelled message, anywhere in
    * the cause chain. Spark surfaces a stopped in-flight micro-batch as a
    * StreamingQueryException wrapping a SparkException whose message says
    * the job was cancelled ("cancelled because SparkContext was shut
    * down", "Job ... cancelled"); anything else during shutdown is a real
    * failure.
    */
  private[graft] def isCancellation(e: Throwable): Boolean =
    graft.pipeline.Retry.isCancellation(e)
}
