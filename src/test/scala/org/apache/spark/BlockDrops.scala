package org.apache.spark

/** Test access to the block manager: drops a persisted RDD's cached
  * blocks while the RDD stays marked persisted — what eviction under
  * memory pressure does — so the next job recomputes them from lineage. */
object BlockDrops {
  def dropBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
