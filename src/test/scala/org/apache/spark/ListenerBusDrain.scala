package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps private:
  * blocks until every event posted so far has reached every listener, so a
  * counting listener is complete once the action it counts has returned.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
