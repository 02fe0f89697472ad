package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark driver internals the benchmark reads from outside the engine.
  * They are `private[spark]`, hence this package.
  */
object SparkInternals {

  /** Blocks until every posted listener event has been delivered, so job and
    * task records are complete before spans are assembled.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of whole-stage codegen compilations in this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
