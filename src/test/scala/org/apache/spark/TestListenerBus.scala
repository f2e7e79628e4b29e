package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a spec reads a listener's counts only after every event its action
  * caused has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
