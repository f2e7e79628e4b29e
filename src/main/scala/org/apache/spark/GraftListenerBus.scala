package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a listener's counts are read only after every event its action caused
  * has been delivered.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
