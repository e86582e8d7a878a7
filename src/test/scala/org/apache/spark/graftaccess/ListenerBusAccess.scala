package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** Test forwarder to the listener bus, which is `private[spark]`: waits
  * until every queued event has reached its listeners, so a test can read
  * task metrics of the actions it just ran. Lives under org.apache.spark
  * solely for package access.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
