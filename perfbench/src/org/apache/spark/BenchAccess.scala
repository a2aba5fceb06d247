package org.apache.spark

/** The one private Spark hook the benchmark needs: listener events are
  * delivered asynchronously, so span counters are read only after the
  * listener bus has drained. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
