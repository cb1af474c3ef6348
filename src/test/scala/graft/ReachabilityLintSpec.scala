package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reachability lint over the program's sources: every file under
  * `src/main/scala` defines a `main`, or one of its top-level objects,
  * classes or traits is named by another file under `src/main/scala`,
  * `perfbench/src` or `deploy/` — code that only its own spec reaches is
  * deleted, not kept. `tools/unreached.sh` runs the same file check plus a
  * def-level one. */
class ReachabilityLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val roots = Seq(mainRoot, Paths.get("perfbench/src"), Paths.get("deploy"))

  private def filesUnder(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      finally walk.close()
    }

  private lazy val texts: Map[Path, String] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: ${mainRoot.toAbsolutePath}")
    roots.flatMap(filesUnder).map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
  }

  private val TopLevel =
    """(?m)^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val Main = """\bdef\s+main\s*\(""".r

  private def topLevelNames(text: String): Seq[String] =
    TopLevel.findAllMatchIn(text).map(_.group(1)).toSeq.distinct

  private def reached(file: Path, text: String): Boolean =
    Main.findFirstIn(text).isDefined || topLevelNames(text).exists { name =>
      val word = s"\\b$name\\b".r
      texts.exists { case (other, t) => other != file && word.findFirstIn(t).isDefined }
    }

  private lazy val scalaSources = texts.filter { case (p, _) =>
    p.startsWith(mainRoot) && p.toString.endsWith(".scala")
  }

  test("the sources are scanned") {
    assert(scalaSources.keySet.exists(_.getFileName.toString == "Bench.scala"))
    assert(topLevelNames(scalaSources(mainRoot.resolve("graft/Bench.scala")))
      .contains("QueryTrace"))
  }

  test("every src/main/scala file defines a main or is named by another program file") {
    val unreached = scalaSources.collect { case (p, t) if !reached(p, t) => p.toString }
    assert(unreached.isEmpty,
      s"no entry point reaches these; delete them or call them: ${unreached.toSeq.sorted.mkString(", ")}")
  }
}
