package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads: Spark keeps both
  * `private[spark]`, so this accessor lives under Spark's package.
  */
object Internals {
  /** Whole-stage and expression classes compiled by Janino so far in
    * this JVM (one histogram sample per compile).
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Block until every event posted so far reached every listener, so a
    * pass's counters are complete before they are read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
