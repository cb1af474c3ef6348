package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session-contract lint over the program's sources: every session starts
  * from [[GraftSession]], so no other file calls `SparkSession.builder()`,
  * and no file sets a checkpoint dir by hand (the contract's
  * `spark.checkpoint.dir` does, and a caller overrides it as a conf). */
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
  private def offenders(pattern: String, allowed: Set[String] = Set.empty): Seq[String] = {
    val re = pattern.r
    for {
      (path, text) <- sources if !allowed.contains(path.getFileName.toString)
      m <- re.findAllMatchIn(text)
    } yield s"$path:${text.substring(0, m.start).count(_ == '\n') + 1}"
  }

  test("the sources are scanned") {
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"))
    assert(offenders("""SparkSession\s*\.\s*builder\s*\(""").nonEmpty,
      "GraftSession.scala itself must match the builder pattern")
  }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val hits = offenders("""SparkSession\s*\.\s*builder\s*\(""", Set("GraftSession.scala"))
    assert(hits.isEmpty, s"start these sessions from GraftSession: ${hits.mkString(", ")}")
  }

  test("no source calls setCheckpointDir") {
    val hits = offenders("""setCheckpointDir\s*\(""")
    assert(hits.isEmpty, s"set spark.checkpoint.dir through the contract: ${hits.mkString(", ")}")
  }
}
