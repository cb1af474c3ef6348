package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.util.ReadWriteUtils

/** Test-side view of Spark ML's `private[spark]` local saving flag, so a
  * spec can check that [[LocalSavingBridge.withLocalSaving]] restores it. */
object LocalSavingProbe {

  /** Whether local saving is on for this thread. */
  def localSaving: Boolean = ReadWriteUtils.localSavingModeState.get()
}
