package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** The RDD ids that hold at least one block in the block manager. Unlike
  * `SparkContext.getRDDStorageInfo`, whose weak-valued RDD map drops an
  * RDD as soon as it is garbage collected, this still lists blocks the
  * ContextCleaner has not yet removed. */
object StoredBlocks {
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }
      .toSet
}
