package org.apache.spark

/** Access to Spark internals the benchmark reads and Spark keeps
  * package-private: the listener bus's drain and the memory manager's use. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Execution plus storage memory in use (on and off heap), in bytes. */
  def managedMemoryUsed(): Long = {
    val mm = SparkEnv.get.memoryManager
    mm.executionMemoryUsed + mm.storageMemoryUsed
  }
}
