package org.apache.spark

/** The one Spark-internal hook the benchmark's tracer needs: wait until
  * every event posted so far has reached the listeners, so that an op's
  * jobs, query phases and stream progress are all attributed before the
  * next op starts. Lives in Spark's package because the bus is
  * package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
