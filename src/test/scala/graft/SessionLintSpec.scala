package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session-contract lint over the program's sources: every session starts
  * from [[GraftSession]], so no other file calls `SparkSession.builder()`,
  * and no file sets a checkpoint dir by hand (the contract's
  * `spark.checkpoint.dir` does, and a caller overrides it as a conf).
  * Intermediates materialize one way: no source checkpoints a Dataset or
  * RDD, and only `Reuse` names its `mat-` directories. Model
  * I/O keeps to one path: Spark ML's private `ReadWriteUtils` is named only
  * by the bridge under `org/apache/spark/ml/graftbridge/`, and only
  * `ModelStore` loads a `PipelineModel`. */
class SessionLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** `file:line` of every match of `pattern` outside the allowed files. */
  private def offenders(pattern: String, allowed: Path => Boolean = _ => false): Seq[String] = {
    val re = pattern.r
    for {
      (path, text) <- sources if !allowed(path)
      m <- re.findAllMatchIn(text)
    } yield s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}"
  }

  private def named(file: String): Path => Boolean = _.getFileName.toString == file

  test("the sources are scanned") {
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"))
    assert(offenders("""SparkSession\s*\.\s*builder\s*\(""").nonEmpty,
      "GraftSession.scala itself must match the builder pattern")
  }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val hits = offenders("""SparkSession\s*\.\s*builder\s*\(""", named("GraftSession.scala"))
    assert(hits.isEmpty, s"start these sessions from GraftSession: ${hits.mkString(", ")}")
  }

  test("no source calls setCheckpointDir") {
    val hits = offenders("""setCheckpointDir\s*\(""")
    assert(hits.isEmpty, s"set spark.checkpoint.dir through the contract: ${hits.mkString(", ")}")
  }

  test("nothing checkpoints, and only Reuse.scala names the mat- directories") {
    val hits = offenders("""\.checkpoint\s*\(|localCheckpoint\s*\(""")
    assert(hits.isEmpty, s"materialize through Reuse.materialize: ${hits.mkString(", ")}")
    assert(offenders("\"mat-\"").exists(_.contains("Reuse.scala")),
      "Reuse.scala itself must match the pattern")
    val mat = offenders("\"mat-\"", named("Reuse.scala"))
    assert(mat.isEmpty, s"only Reuse owns its directories: ${mat.mkString(", ")}")
  }

  test("ReadWriteUtils appears only under org/apache/spark/ml/graftbridge/") {
    val bridge = root.resolve("org/apache/spark/ml/graftbridge")
    assert(offenders("ReadWriteUtils").exists(_.startsWith(bridge.toString)),
      "the bridge itself must match the pattern")
    val hits = offenders("ReadWriteUtils", _.startsWith(bridge))
    assert(hits.isEmpty, s"reach Spark ML's read/write internals through the bridge: ${hits.mkString(", ")}")
  }

  test("PipelineModel.load( appears only in ModelStore.scala") {
    assert(offenders("""PipelineModel\s*\.\s*load\s*\(""").nonEmpty,
      "ModelStore.scala itself must match the pattern")
    val hits = offenders("""PipelineModel\s*\.\s*load\s*\(""", named("ModelStore.scala"))
    assert(hits.isEmpty, s"load models through ModelStore: ${hits.mkString(", ")}")
  }
}
