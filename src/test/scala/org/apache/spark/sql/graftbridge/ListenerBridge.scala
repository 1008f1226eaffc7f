package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Block until every event posted so far (QueryExecutionListener
  * callbacks included) has been delivered — the listener bus is
  * asynchronous and its drain hook is Spark-private.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
