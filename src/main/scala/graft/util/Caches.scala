package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one release path for a frame an operator cached. */
object Caches {
  /** Free what `df` holds: its cache-manager entry (`unpersist()`) and,
    * when `df` IS a `localCheckpoint`ed frame (a `LogicalRDD` at the
    * root of its analyzed plan), the checkpoint RDD's blocks, which the
    * persistent-RDD registry otherwise keeps until the ContextCleaner
    * collects the last reference. A `LogicalRDD` deeper in the plan
    * belongs to an upstream frame and is left alone. Do not consume a
    * released checkpoint again: its lineage is truncated, so nothing is
    * left to recompute it from. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
