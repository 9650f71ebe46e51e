package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** What the local block store holds right now, in memory or on disk — the
  * persisted-RDD map drops an RDD as soon as its unpersist is issued, long
  * before its blocks are gone. Lives in Spark's package because the block
  * manager is Spark-internal. */
object LocalBlocks {

  /** The RDD ids above `mark` that still have a block in the store. */
  def rddIdsAbove(mark: Int): Set[Int] =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case b: RDDBlockId => b.rddId > mark
      case _ => false
    }.collect { case b: RDDBlockId => b.rddId }.toSet
}
