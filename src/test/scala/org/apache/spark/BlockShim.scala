package org.apache.spark

/** The `private[spark]` block manager, for specs that check what a run
  * leaves stored.
  */
object BlockShim {

  /** Names of the broadcast blocks (values and pieces) the driver holds. */
  def broadcastBlocks(sc: SparkContext): Set[String] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).map(_.name).toSet
}
