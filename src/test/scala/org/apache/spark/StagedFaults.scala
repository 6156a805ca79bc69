package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the two `private[spark]` handles the staging specs
  * need: an executor's block store, to lose one staged block the way a
  * lost executor would, and `SparkContext.checkpointDir`, to run code
  * under a checkpoint dir on the shared test context and put the
  * previous setting back afterwards. */
object StagedFaults {

  /** Remove partition `split` of RDD `rddId` from the block store (memory
    * and disk) and tell the master; true when the block was there. */
  def dropBlock(rddId: Int, split: Int): Boolean = {
    val (blocks, id) = (SparkEnv.get.blockManager, RDDBlockId(rddId, split))
    val held = blocks.getStatus(id).isDefined
    blocks.removeBlock(id)
    held
  }

  /** Run `body` with the context's checkpoint dir set to `dir` (a fresh
    * subdirectory of it, as `setCheckpointDir` makes), or unset when
    * `dir` is None, then restore whatever was set before. */
  def withCheckpointDir[T](sc: SparkContext, dir: Option[String])(body: => T): T = {
    val prev = sc.checkpointDir
    dir match {
      case Some(d) => sc.setCheckpointDir(d)
      case None => sc.checkpointDir = None
    }
    try body finally sc.checkpointDir = prev
  }

  /** The number of files (not directories) under local dir `dir`. */
  def fileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else 1
    walk(new java.io.File(dir))
  }
}
