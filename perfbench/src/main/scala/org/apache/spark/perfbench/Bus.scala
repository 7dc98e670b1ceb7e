package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; a traced measurement
  * reads its counters only after every event of the operation has been
  * delivered. `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = if (!sc.isStopped) sc.listenerBus.waitUntilEmpty()

  /** Classes compiled by whole-stage codegen so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
