package org.apache.spark

import org.apache.spark.rdd.RDD

/** Frees a local checkpoint's blocks without the WARN that
  * `RDD.unpersist` logs on every locally checkpointed RDD ("lineage
  * has been truncated and cannot be recomputed"): the iteration
  * runner frees only checkpoints nothing reads any more, once per
  * round, so that warning would be pure noise. `unpersistRDD` is
  * `private[spark]`; this object lives in Spark's package only to
  * reach it.
  */
object LocalCheckpoints {
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
