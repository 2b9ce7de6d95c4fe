package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** The listener bus and the block manager master are package-private;
  * specs that count jobs or capture executed plans drain the bus before
  * they read what their listener saw, and specs that check what a stream
  * leaves cached list the RDD blocks. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Ids of the RDDs that have at least one block stored anywhere. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b.rddId }.toSet
}
