package org.apache.spark.rdd

/** Engine-internal shim (used by `graft.Sessions.isolate`): drops a
  * persisted RDD's blocks. `RDD.unpersist` logs a WARN for each locally
  * checkpointed RDD ("its lineage has been truncated and cannot be
  * recomputed"), which says nothing to a caller that discards the RDD
  * on purpose. `SparkContext.unpersistRDD` drops the same blocks and
  * registry entry without the WARN; it is `private[spark]`, and
  * `isLocallyCheckpointed` is `private[rdd]`. Such an RDD keeps its
  * storage level, which no later use can act on: with its blocks gone
  * and its lineage truncated it cannot be computed again either way. */
object GraftUnpersist {
  def apply(rdd: RDD[_]): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
    else rdd.unpersist(blocking = true)
}
