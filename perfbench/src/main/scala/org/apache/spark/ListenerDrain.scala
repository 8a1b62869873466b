package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark. The traced run needs its
  * drain barrier so that every job, stage and task event of a window has
  * reached the benchmark's listener before the window's records are written.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
