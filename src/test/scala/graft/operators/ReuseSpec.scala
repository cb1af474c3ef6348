package graft.operators

import graft.SparkSpec

/** Reuse.materialize must take the RELIABLE checkpoint path whenever the
  * session has a checkpoint dir (the cluster-survivable mode g6's edge
  * reuse depends on) — not the executor-local localCheckpoint fallback. */
class ReuseSpec extends SparkSpec {

  /** Files under the session's checkpoint dir (stream closed — a leaked
    * Files.walk holds directory handles open). The session's context
    * cleaner deletes the checkpoints of collected RDDs meanwhile
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`), so the tests
    * look for files that appeared, not for a larger count. */
  private def checkpointFiles(): Set[String] = {
    val dir = spark.sparkContext.getCheckpointDir
    assert(dir.isDefined, "test harness must configure a checkpoint dir")
    val d = new java.io.File(new java.net.URI(dir.get).getPath)
    if (!d.isDirectory) Set.empty
    else {
      val s = java.nio.file.Files.walk(d.toPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(_.toFile.isFile).map(_.toString).toSet
      } finally s.close()
    }
  }

  test("materialize writes a reliable checkpoint when a checkpoint dir is set") {
    import spark.implicits._
    val before = checkpointFiles()
    val m = Reuse.materialize((1 to 10).toDF("x"))
    assert(m.count() == 10)
    assert((checkpointFiles() -- before).nonEmpty,
      "no checkpoint blocks written — localCheckpoint fallback taken?")
  }

  test("round writes its checkpoint on first action; seal frees the feeder cache and keeps the frame readable") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val before = checkpointFiles()
    val r = Reuse.round((1 to 10).toDF("x").filter("x > 2"))
    assert(!spark.sharedState.cacheManager.isEmpty,
      "round must persist the feeder plan (else the checkpoint write recomputes it)")
    assert(r.count() == 8) // first action: materializes AND writes the checkpoint
    assert((checkpointFiles() -- before).nonEmpty,
      "lazy round never wrote reliable checkpoint files")
    Reuse.seal(r)
    assert(spark.sharedState.cacheManager.isEmpty,
      "seal must release the feeder cache once the round is file-backed")
    assert(r.count() == 8, "sealed round must stay fully readable from its checkpoint")
    Reuse.freeRound(r) // idempotent with seal; frees the round's own blocks
    assert(r.count() == 8, "reliable rounds re-read files even after freeRound")
  }
}
