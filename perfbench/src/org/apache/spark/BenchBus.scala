package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Spark delivers
  * listener events on its own thread; the traced run reads its
  * in-memory spans only after every posted event has been delivered,
  * which this waits for directly instead of sleeping. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
