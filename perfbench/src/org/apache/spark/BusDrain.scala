package org.apache.spark

/** Waits until every event posted so far has reached the listeners.  The
  * listener bus is asynchronous; the traced run needs an operation's events
  * before it attributes them.  `waitUntilEmpty` is package-private in Spark,
  * hence this file's package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
