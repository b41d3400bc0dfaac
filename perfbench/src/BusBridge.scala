package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run must see every job, task and progress event of a phase before
  * it closes the phase's books. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
