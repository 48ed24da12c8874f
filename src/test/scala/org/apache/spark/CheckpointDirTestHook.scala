package org.apache.spark

/** Test-only: put back the global checkpoint dir so a reliable-checkpoint
  * test doesn't flip every later suite in the shared JVM onto the
  * reliable path (`SparkContext.checkpointDir` is a package-private var
  * with no public unset, and `setCheckpointDir` would nest a fresh UUID
  * dir under the one passed in). `dir` is what `sc.getCheckpointDir`
  * returned before the test. */
object CheckpointDirTestHook {
  def restore(sc: SparkContext, dir: Option[String]): Unit = {
    sc.checkpointDir = dir
  }
}
