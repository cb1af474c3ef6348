package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.util.ReadWriteUtils

/** Spark ML's local saving mode. `ReadWriteUtils.localSavingModeState` is a
  * `private[spark]` thread-local: while it is set, every stage writer and
  * reader on this thread (params metadata, vectorizer/scaler/indexer data,
  * forest trees) does plain local file I/O instead of running a Spark job.
  * The layout it writes is readable only in the same mode. Same shim
  * pattern as `sql.graftbridge.ColumnBridge`. */
object LocalSavingBridge {

  /** Runs `body` with local saving on for this thread, then restores the
    * previous value, also when `body` throws. */
  def withLocalSaving[A](body: => A): A = {
    val state = ReadWriteUtils.localSavingModeState
    val previous = state.get()
    state.set(true)
    try body finally state.set(previous)
  }
}
