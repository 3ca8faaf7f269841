package org.apache.spark

/** The one scheduler internal the benchmark needs: wait until the listener
  * bus has delivered every queued event, so a traced span's last task-end
  * events are recorded before tracing is switched off. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
