package graft.operators

import org.apache.spark.sql.DataFrame

/** The one place that decides how a frame is materialized, and the
  * lifecycle handle for the blocks that materialization leaves.
  *
  * Rule: [[pin]] writes a reliable checkpoint when the session's
  * SparkContext has a checkpoint directory (`spark.checkpoint.dir`, or
  * `SparkContext.setCheckpointDir`) and a `localCheckpoint` otherwise.
  * A local pin is cheap but executor-local and non-replicated: losing
  * its blocks (an executor loss, or a [[free]]) makes the frame
  * unrecoverable, with no recompute path. A reliable pin is written to
  * the checkpoint directory, so on a fault-tolerant store the frame
  * survives the loss of any executor. Every operator in graft pins
  * through here, so the deployment's checkpoint directory alone selects
  * the mode; no operator takes its own flag.
  *
  * Several operators (`dedupClusters`, `packSequences`,
  * `quotaSample`/`quotaSampleBudgets`, the TrainingData builders) return
  * a plan backed by pinned blocks — the caller's working set.
  * Intermediates are freed inside the operators; the backing blocks
  * CANNOT be (executing the returned plan still needs them), so on a
  * long-lived session each invocation holds its blocks until the caller
  * releases them with [[free]], once the result has been written or
  * collected and the DataFrame will not be executed again.
  */
object Materialized {

  /** Materializes `df` eagerly and returns a frame that reads the
    * materialized rows (partitioning and ordering preserved): a
    * reliable checkpoint when a checkpoint directory is set, a
    * `localCheckpoint` otherwise. */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Unpersists every materialized RDD in `df`'s lineage (leaf
    * `LogicalRDD`s — a projection over a pin counts too) and waits for
    * the blocks to be removed. After this the DataFrame MUST NOT be
    * executed again — a local pin's lineage is truncated and cannot
    * recompute (Spark logs the same warning); a reliable pin re-reads
    * its checkpoint files.
    *
    * Pinned blocks are session-lifetime unless freed: measured on
    * repeated q60 (`dedupClusters`) evaluations at sf0.1, pass times
    * degraded 4.5 → 9.4 → 10.7 s as accumulated blocks forced storage
    * eviction; on a long-lived session the growth is unbounded. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
