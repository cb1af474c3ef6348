package graft

import org.scalatest.funsuite.AnyFunSuite

class StreamLegsSpec extends AnyFunSuite {

  test("batches after restart: 0 when the restarted query ran no batch") {
    assert(StreamLegs.batchesAfterRestart(None, batchesA = 2L) == 0L)
  }

  test("batches after restart: the restarted query's batches past segment A's") {
    // segment A committed batches 0 and 1; segment B resumed at 2 and ended at 6
    assert(StreamLegs.batchesAfterRestart(Some(6L), batchesA = 2L) == 5L)
    assert(StreamLegs.batchesAfterRestart(Some(0L), batchesA = 0L) == 1L)
  }
}
