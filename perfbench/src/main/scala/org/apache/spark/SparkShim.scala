package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads two Spark internals the harness needs and Spark keeps private
  * to its own package, which is why this shim lives there. */
object SparkShim {

  /** Blocks until every event posted so far has reached every listener,
    * so per-operation counters are complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (classes compiled, estimated total compile ms) since JVM start.
    * The histogram keeps a sample, so the total is count × sample mean. */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
