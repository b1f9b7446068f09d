package org.apache.spark

/** Drops an RDD's blocks the way a lost executor does: through the
  * BlockManager master, leaving the RDD itself (and any frame built on
  * it) untouched. `SparkContext.env` is package-private to Spark, hence
  * this object's package. */
object LostBlocks {
  def removeRdd(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
