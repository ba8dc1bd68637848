package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the tracer reads that are `private[spark]`:
  * draining the listener bus (so an op's task and job events are in
  * before its counters are read) and the codegen compile counter. */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
}
