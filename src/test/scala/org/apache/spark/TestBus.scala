package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a scoped listener must have seen every event of the
  * call it observes before the test reads it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
