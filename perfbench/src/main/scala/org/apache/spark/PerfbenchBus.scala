package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a scoped listener must have seen every event of the call it measured
  * before it is read and detached. An action posts its stage and job end
  * events before it returns, so draining after the call is enough. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
