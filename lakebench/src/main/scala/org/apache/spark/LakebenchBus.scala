package org.apache.spark

/** Lets the benchmark's tracer drain Spark's listener bus at span
  * boundaries, so every listener event a span caused is delivered before
  * the span closes. `SparkContext.listenerBus` is `private[spark]`, hence
  * this one-line bridge; it holds no logic of its own.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
