package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading its listeners' totals, so every
  * event of a phase is counted in that phase.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
