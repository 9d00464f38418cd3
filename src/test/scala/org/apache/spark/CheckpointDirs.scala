package org.apache.spark

/** Test-tree access to `SparkContext.checkpointDir`, whose setter is
  * `private[spark]`. A spec that sets a checkpoint directory on the
  * shared context must unset it afterwards: while one is set, every
  * later spec's graph loop takes reliable cuts (`GraphOps.cut`). */
object CheckpointDirs {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
