package org.apache.spark

/** Runs a block with the SparkContext's checkpoint directory set, then
  * restores the previous value. Spark has no public way to unset the
  * directory (`checkpointDir` is package-private), and the suite shares
  * one context across specs, so a test that only set it would switch
  * every later `Materialized.pin` in the JVM to reliable checkpoints. */
object CheckpointDirs {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = saved
  }
}
