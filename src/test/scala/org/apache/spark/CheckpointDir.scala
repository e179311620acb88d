package org.apache.spark

/** Test access to the context's checkpoint directory, which has a public
  * setter but no way back to "unset": the suites share one session, so a
  * test that sets a directory must restore the previous value, or every
  * later `CacheLifecycle.scaffold` takes the reliable-checkpoint branch. */
object CheckpointDir {

  /** Run `body` with `dir` as `sc`'s checkpoint directory, then restore the
    * directory that was set before (none, in the test suite). */
  def during[T](sc: SparkContext, dir: String)(body: => T): T = {
    val before = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = before
  }
}
