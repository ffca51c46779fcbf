package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until the
  * listener bus has delivered every posted event, so that the counters
  * read at a pass boundary cover exactly the jobs of that pass.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
