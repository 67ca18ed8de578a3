package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's code generator keeps compiled classes in a private cache and
  * counts compilations in a package-private metric: specs that count the
  * classes a query generates empty the cache first and read the count.
  */
object TestCodegen {
  /** Compilations so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drops every cached generated class, so the next use compiles it. */
  def clearCache(): Unit = {
    val f = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(null)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
