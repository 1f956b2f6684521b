package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so per-op listener counters are complete when an op's action
  * returns. The bus flush is package-private to Spark, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
