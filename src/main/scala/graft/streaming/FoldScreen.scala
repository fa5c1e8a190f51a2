package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one microbatch seam of the fold-then-screen streaming twins
  * ([[StreamingIncrementalDedup]], [[StreamingIncrementalSemantic]],
  * [[StreamingTrainingPipeline]]): each twin is its batch operator's
  * index-advance loop, driven one microbatch at a time against a
  * `batch_id=`-partitioned state directory. */
private[streaming] object FoldScreen {

  /** Configure (not start) `increments`' stream: each microbatch is cut
    * to `cols`, materialized, and rebound to the caller's session — the
    * microbatch frame belongs to the stream's CLONED session, whose
    * function registry snapshot predates any registration the batch
    * operators perform (band_match_before, float_dot, mip_assign …).
    * `step(batch, id)` must return an already materialized frame
    * (collect-safe, no further job on delivery); it goes to `onBatch`
    * as is. */
  def writer(spark: SparkSession, increments: DataFrame, cols: Seq[String])
            (step: (DataFrame, Long) => DataFrame)
            (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    increments.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cp = batch.select(cols.map(col): _*).localCheckpoint()
        onBatch(id, step(spark.createDataFrame(cp.rdd, cp.schema), id))
      }

  /** A fresh state directory owned by one writer, for twins started
    * without a `stateDir`: it lives on the session's default
    * filesystem (executors write the folds there) and is deleted when
    * that filesystem closes at JVM exit. A restart builds a new writer
    * and so a new, empty directory — the state is forgotten, while a
    * retried batch id still replaces its own partition. */
  def scratchDir(spark: SparkSession): String = {
    val p = new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir"),
      s"graft-stream-state-${java.util.UUID.randomUUID}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    fs.makeQualified(p).toString
  }
}
