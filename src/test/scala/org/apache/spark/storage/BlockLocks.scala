package org.apache.spark.storage

import org.apache.spark.SparkEnv

/** The driver's block lock table, for specs: `BlockManager.blockInfoManager`
  * is `private[storage]`. */
object BlockLocks {

  /** Read locks held on any block, and the lock table's entries beyond one
    * per block: one per registered task plus one per held lock. */
  def apply(): (Int, Long) = {
    val info = SparkEnv.get.blockManager.blockInfoManager
    (info.entries.map(_._2.readerCount).sum, info.getNumberOfMapEntries - info.size)
  }
}
