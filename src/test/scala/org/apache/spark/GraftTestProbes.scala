package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-only access to SparkContext internals the public API does not
  * expose. */
object GraftTestProbes {
  /** Whether this JVM's block manager still holds broadcast `id`. */
  def broadcastStored(id: Long): Boolean =
    SparkEnv.get.blockManager.getStatus(BroadcastBlockId(id)).isDefined
}
