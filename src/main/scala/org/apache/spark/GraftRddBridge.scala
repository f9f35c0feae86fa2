package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.util.KnownSizeEstimation

/** RDD and block-store helpers Spark keeps package-private. */
object GraftRddBridge {

  /** A cached value with its size in bytes, already measured: Spark's
    * block store takes the figure instead of walking the value's object
    * graph again, single-threaded, when the value is stored. */
  final class Sized[T](val value: T, val estimatedSize: Long) extends KnownSizeEstimation with Serializable

  /** Drops a persisted RDD's blocks without blocking — what
    * `RDD.unpersist(blocking = false)` does, minus its WARN that a
    * locally checkpointed RDD cannot be recomputed: a released serving
    * cache is never read again, so that warning reports nothing. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
