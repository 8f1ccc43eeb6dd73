package org.apache.spark

/** The listener bus delivers events asynchronously, and its drain call is
  * `private[spark]`. A traced run drains after every op so that each op's
  * jobs, tasks and query executions are recorded before the next op. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
