package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Codegen-cache access the public API does not give: how many classes
  * the JVM's Janino compiler has compiled so far (every codegen cache
  * miss compiles one).
  */
object Compilations {
  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
