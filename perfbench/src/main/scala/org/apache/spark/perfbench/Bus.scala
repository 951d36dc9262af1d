package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread. The traced run waits
  * for it to empty after each operation, so every event an operation caused
  * has reached the benchmark's listener before the operation's record is
  * taken. Synchronisation only: the numbers themselves come through the
  * public listener interfaces. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
