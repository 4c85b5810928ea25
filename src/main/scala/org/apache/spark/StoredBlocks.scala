package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Whether every partition of `rdd` has a stored block, asked of the
  * block-manager master (private to Spark). The master answers
  * synchronously; `SparkContext.getRDDStorageInfo` reads a status store
  * the listener bus feeds with throttled updates. */
object StoredBlocks {
  def all(rdd: RDD[_]): Boolean =
    rdd.sparkContext.env.blockManager.master
      .getLocations(Array.tabulate[BlockId](rdd.getNumPartitions)(RDDBlockId(rdd.id, _)))
      .forall(_.nonEmpty)
}
