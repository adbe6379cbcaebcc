package org.apache.spark

/** Access to the `private[spark]` listener bus, so the traced run can
  * wait until every event of a pass has reached its listeners before
  * it attributes them. Holds no logic of its own. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
