package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the benchmark's trace needs. They live in
  * Spark's package because both are `private[spark]`. */
object SparkInternals {

  /** Block until every event posted so far has reached every listener,
    * so counters read after a call include all of that call's jobs. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code generations compiled so far in
    * this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
