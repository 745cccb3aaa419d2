package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus, so a trace read after an
  * op sees every task-end event of that op.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
