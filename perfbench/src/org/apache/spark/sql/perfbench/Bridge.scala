package org.apache.spark.sql.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two Spark-internal reads the tracer needs, kept in one place:
  * waiting for the listener bus to deliver every posted event, and the
  * storage memory the block manager holds right now. */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def storageBytesUsed(): Long =
    SparkEnv.get.blockManager.master.getMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
}
