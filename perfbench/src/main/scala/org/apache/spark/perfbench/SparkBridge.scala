package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the tracer reads that have no public door. */
object SparkBridge {

  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression codegen compilations so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time (ms) of the recent compilations. */
  def codegenMeanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}
