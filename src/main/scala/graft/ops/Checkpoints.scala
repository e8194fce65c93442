package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifetime of `localCheckpoint`ed frames. */
object Checkpoints {

  /** `Dataset.unpersist` is a no-op on a localCheckpoint'd frame (it only
    * clears CacheManager entries, not the checkpoint's persisted RDD
    * blocks) — release the underlying RDDs so a superseded frame frees
    * executor storage deterministically instead of waiting for driver GC.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
