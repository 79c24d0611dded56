package org.apache.spark

/** Test access to a context's checkpoint dir (`private[spark]`): run a
  * body with a reliable checkpoint dir set, then put the context's dir
  * back as it was.
  */
object CheckpointDirs {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val before = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = before
  }
}
