package graft.operators

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The materialization contract: [[Reuse.materialize]] is one Spark job
  * whose read-back has the input's rows and column types, and
  * [[Reuse.release]] deletes exactly the frame's own `mat-*` directory.
  * Every iterative operator leaves behind only the directories its
  * returned frame reads. */
class ReuseSpec extends SparkSpec {
  import spark.implicits._

  private def home: File = {
    val dir = spark.sparkContext.getCheckpointDir
    assert(dir.isDefined, "test harness must configure a checkpoint dir")
    new File(new java.net.URI(dir.get).getPath)
  }

  /** Names of the `mat-*` directories under the checkpoint home. */
  private def matDirs(): Set[String] =
    Option(home.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("mat-")).map(_.getName).toSet

  /** Names of the `mat-*` directories `df`'s files live in. */
  private def readDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .filter(_.startsWith("mat-")).toSet

  /** Runs `body` and returns its result and the `mat-*` directories it left. */
  private def leftBy[A](body: => A): (A, Set[String]) = {
    val before = matDirs()
    val out = body
    (out, matDirs() -- before)
  }

  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val bus = new graft.QueryTrace
    val jobs = new AtomicInteger(0)
    val control = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    bus.drainListenerBus(sc)
    sc.addSparkListener(control)
    try {
      val out = body
      bus.drainListenerBus(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(control)
  }

  private val edges: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L))

  test("materialize is one job, and its read-back has the input's rows and column types") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5)).toDF("id", "s", "x")
    val (m, jobs) = jobsOf(Reuse.materialize(df))
    assert(jobs == 1, s"materialize ran $jobs jobs")
    assert(m.schema.map(_.dataType) == df.schema.map(_.dataType))
    assert(m.columns.toSeq == df.columns.toSeq)
    assert(m.collect().toSet == df.collect().toSet)
    assert(readDirs(m).size == 1)
    Reuse.release(m)
  }

  test("release deletes the frame's mat- directory and nothing it does not own") {
    val (m, made) = leftBy(Reuse.materialize((1 to 10).toDF("x")))
    assert(made.size == 1 && readDirs(m) == made)
    // a frame derived from the read-back is not the read-back: kept
    Reuse.release(m.filter($"x" > 2))
    assert(matDirs().contains(made.head))
    Reuse.release(m)
    assert(!matDirs().contains(made.head), "release left the mat- directory behind")

    // a plain parquet read outside the checkpoint home, even under a mat- name
    val outside = java.nio.file.Files.createTempDirectory("graft-reuse").resolve("mat-plain")
    (1 to 5).toDF("x").write.parquet(outside.toString)
    val plain = spark.read.parquet(outside.toString)
    Reuse.release(plain)
    assert(java.nio.file.Files.isDirectory(outside), "release deleted a directory it does not own")
    assert(spark.read.parquet(outside.toString).count() == 5)
  }

  test("released hot frames leave the cache") {
    spark.sharedState.cacheManager.clearCache()
    val hot = Reuse.materialize((1 to 10).toDF("x")).cache()
    assert(hot.count() == 10)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Reuse.release(hot)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("each iterative operator leaves only the directories its result reads") {
    val e = edges.toDF("s", "t")
    def check(name: String)(run: => DataFrame): Unit = {
      val (out, left) = leftBy(run)
      assert(left == readDirs(out), s"$name left $left but its result reads ${readDirs(out)}")
      assert(left.size == 1, s"$name: the result reads its final round only, got $left")
      assert(out.count() > 0)
    }
    check("PageRank.ranks")(PageRank.ranks(e, "s", "t", iterations = 3))
    check("PageRank.ranksQuantized")(PageRank.ranksQuantized(e, "s", "t", 3))
    check("Hits.hubsAndAuthorities")(Hits.hubsAndAuthorities(e, "s", "t", 3))
    check("LabelPropagation.propagate")(LabelPropagation.propagate(e, "s", "t", 3))
    check("ConnectedComponents.label")(ConnectedComponents.label(e, "s", "t"))
  }

  test("KCore keeps every round it peeled, and nothing else") {
    val rounds = 3
    val (out, left) = leftBy(KCore.peel(edges.toDF("s", "t"), "s", "t", 2, rounds))
    assert(left.size == rounds, s"expected one directory per round, got $left")
    assert(readDirs(out) == left)
  }

  test("driver-built results leave no directory: KMeansQuantized, BpeLearn across two cut rounds") {
    val pts = Seq((1L, Seq(0L, 0L)), (2L, Seq(1L, 0L)), (3L, Seq(10L, 10L)), (4L, Seq(11L, 10L)))
    val (cent, leftK) = leftBy(KMeansQuantized.fit(pts.toDF("vec_id", "q"), 2, 3).collect())
    assert(cent.nonEmpty && leftK.isEmpty, s"KMeansQuantized left $leftK")

    // 67 distinct characters: 66 merges, past the cuts at rounds 32 and 64
    val word = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString + "αβγδε"
    val (merges, leftB) = leftBy(BpeLearn.learn(Seq((word, 1L)).toDF("word", "cnt"), 66))
    assert(merges.size == 66, s"expected 66 merges, got ${merges.size}")
    assert(leftB.isEmpty, s"BpeLearn left $leftB")
  }

  test("UnigramLM leaves only its final vocabulary") {
    val docs = Seq((1L, "xy xy xy z"), (2L, "ab ab xy")).toDF("doc_id", "text")
    val (vocab, left) = leftBy(UnigramLM.train(docs, 2))
    assert(left.size == 1 && readDirs(vocab) == left, s"UnigramLM left $left")
    assert(vocab.count() > 0)
  }
}
