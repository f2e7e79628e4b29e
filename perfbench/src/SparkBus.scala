package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced unit's counts are read only after every event it caused has
  * reached the benchmark's listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
