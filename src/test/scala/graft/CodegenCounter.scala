package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the classes Spark's code generator compiles while a block runs:
  * the growth of `CodegenMetrics.METRIC_COMPILATION_TIME`, which Spark
  * updates once per cache miss of its generated-class cache. The metric is
  * JVM-wide, so on a local master it counts the driver's and the tasks'
  * compiles alike, and the block must be the only Spark work running. */
object CodegenCounter {

  /** The block's result and the number of classes it compiled. */
  def apply[T](f: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = f
    (out, compiles.getCount - before)
  }
}
