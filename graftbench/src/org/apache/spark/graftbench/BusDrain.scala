package org.apache.spark.graftbench

/** Blocks until every event already posted to the listener bus has
  * been delivered, so a span closed right after its call can claim the
  * jobs, tasks and query executions that call produced. The bus's
  * drain is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
