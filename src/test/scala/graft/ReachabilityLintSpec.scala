package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Def-level reachability over the program's sources.
  *
  * Scala files are lexed first: comments and plain string literals are
  * blanked to spaces (line numbers kept), while the code inside an
  * interpolated string's `${…}` (nested literals included) and its `$name`
  * references stay. Every `def`, `object`, `class` and `trait` declared at
  * the start of a line of `src/main/scala` spans its own body (the lines
  * indented deeper than it, plus closers at its indent). A declaration is
  * reached when its name occurs outside its own body and outside every
  * declaration already found unreached; the scan repeats until nothing new
  * turns up, so code that only dead code calls is found too. A use written
  * `Q.name` with a capitalized `Q` is a member of `Q` and reaches only
  * declarations that `Q` owns (`JsonMethods.compact` is not a caller of
  * some other object's `compact`).
  *
  * Roots are never flagged: `main` (and the object around it), every
  * member of `SparkEntry` (the external driver contract), `override`s and
  * `implicit`s (called through their parent type or by the compiler),
  * the names the compiler calls for syntax (`apply`, `unapply`,
  * `unapplySeq`, `update`), and the [[ReachabilityLintSpec.allowlist]].
  * Non-Scala files are read verbatim: a deployment under `deploy/` and a
  * `META-INF/services` registration name their classes in strings. */
object Reachability {

  /** `src` with comments and plain string literals turned to spaces.
    * Newlines stay, so offsets and line numbers match the original. */
  def blank(src: String): String = {
    val out = src.toCharArray
    val n = src.length
    def wipe(from: Int, until: Int): Unit =
      (from until math.min(until, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def identChar(c: Char) = c.isLetterOrDigit || c == '_'

    def blockEnd(start: Int): Int = {
      var i = start + 2
      var depth = 1
      while (i < n && depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      }
      i
    }

    def charLit(i: Int): Int =
      if (i + 3 < n && src(i + 1) == '\\') {
        val k = src.indexOf('\'', i + 3)
        if (k < 0 || k - i > 8) i + 1 else { wipe(i, k + 1); k + 1 }
      } else if (i + 2 < n && src(i + 2) == '\'') { wipe(i, i + 3); i + 3 }
      else i + 1

    // a literal from its opening quote; interpolated ones keep `$name` and
    // the code in `${…}`. Returns the offset after the literal.
    def string(i: Int, interpolated: Boolean): Int = {
      val triple = src.startsWith("\"\"\"", i)
      var j = i + (if (triple) 3 else 1)
      var from = i
      while (j < n) {
        val c = src(j)
        if (triple && src.startsWith("\"\"\"", j)) {
          var e = j + 3
          while (e < n && src(e) == '"') e += 1
          wipe(from, e)
          return e
        } else if (!triple && (c == '"' || c == '\n')) {
          val e = if (c == '"') j + 1 else j
          wipe(from, e)
          return e
        } else if (!triple && c == '\\') j += 2
        else if (interpolated && c == '$' && j + 1 < n) {
          val d = src(j + 1)
          if (d == '{') {
            wipe(from, j + 2)
            j = code(j + 2, inBraces = true) + 1
            from = j
          } else if (d.isLetter || d == '_') {
            wipe(from, j + 1)
            j += 1
            while (j < n && identChar(src(j))) j += 1
            from = j
          } else j += 2
        } else j += 1
      }
      wipe(from, n)
      n
    }

    // code from `start`; inside `${…}` it stops at the unmatched `}`
    def code(start: Int, inBraces: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        src(i) match {
          case '/' if src.startsWith("//", i) =>
            val e = src.indexOf('\n', i) match { case -1 => n; case k => k }
            wipe(i, e); i = e
          case '/' if src.startsWith("/*", i) =>
            val e = blockEnd(i); wipe(i, e); i = e
          case '"' => i = string(i, i > 0 && identChar(src(i - 1)))
          case '\'' => i = charLit(i)
          case '{' => depth += 1; i += 1
          case '}' if inBraces && depth == 0 => return i
          case '}' => depth -= 1; i += 1
          case _ => i += 1
        }
      }
      n
    }

    code(0, inBraces = false)
    new String(out)
  }

  final case class Decl(file: String, line: Int, owner: String, name: String,
                        start: Int, end: Int, isType: Boolean, pinned: Boolean, exempt: Boolean) {
    def key: String = if (owner.isEmpty) name else s"$owner.$name"
    def contains(file: String, offset: Int): Boolean =
      file == this.file && offset >= start && offset < end
    override def toString = s"$file:$line $key"
  }

  private val DeclLine =
    """^([ \t]*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+|@\w+\s+)*)(def|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Synthetic = Set("apply", "unapply", "unapplySeq", "update", "this")
  private val Identifier = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** `Q` when the identifier at `at` is written `Q.name` with a
    * capitalized `Q`. */
  private def qualifier(code: String, at: Int): Option[String] = {
    def skipSpace(i: Int) = { var k = i; while (k >= 0 && code(k).isWhitespace) k -= 1; k }
    val dot = skipSpace(at - 1)
    if (dot < 0 || code(dot) != '.') None
    else {
      val end = skipSpace(dot - 1) + 1
      var start = end
      while (start > 0 && (code(start - 1).isLetterOrDigit || code(start - 1) == '_')) start -= 1
      Some(code.substring(start, end)).filter(q => q.nonEmpty && q.head.isUpper)
    }
  }

  /** The declarations of one blanked file, each spanning its body. */
  def decls(file: String, code: String, allow: Set[String]): Seq[Decl] = {
    val lines = code.split("\n", -1).toIndexedSeq
    val starts = lines.scanLeft(0)(_ + _.length + 1)
    def indent(l: String) = l.prefixLength(c => c == ' ' || c == '\t')
    val raw = lines.indices.flatMap { i =>
      DeclLine.findPrefixMatchOf(lines(i)).map { m =>
        val ind = m.group(1).length
        var last = i
        var j = i + 1
        var open = true
        while (open && j < lines.length) {
          val l = lines(j)
          if (l.trim.isEmpty) j += 1
          else if (indent(l) > ind || (indent(l) == ind && ")]}".contains(l.trim.head))) {
            last = j; j += 1
          } else open = false
        }
        val mods = m.group(2)
        (i, m.group(4), m.group(3) != "def", starts(i), starts(last) + lines(last).length,
          mods.contains("override") || mods.contains("implicit"))
      }
    }
    val entry = file.endsWith("/SparkEntry.scala") || file == "SparkEntry.scala"
    val typed = raw.map { case (line, name, isType, start, end, exempt) =>
      val owner = raw.filter { case (_, _, t, s, e, _) => t && s < start && e >= end }
        .sortBy(-_._4).headOption.map(_._2).getOrElse("")
      Decl(file, line + 1, owner, name, start, end, isType, pinned = false,
        exempt = exempt || Synthetic(name))
    }
    val pinned = typed.filter(d => d.name == "main" || entry || allow(d.key))
    typed.map(d => d.copy(pinned = pinned.exists(p => d.start <= p.start && p.end <= d.end)))
  }

  /** The program declarations that nothing outside their own bodies
    * reaches once the scan is at its fixed point, outermost ones only.
    * `program` files declare; `callers` only call. */
  def unreached(program: Seq[(String, String)], callers: Seq[(String, String)],
                allow: Set[String]): Seq[Decl] = {
    val lexed = program.map { case (f, t) => f -> blank(t) }
    val codes = lexed ++ callers.map { case (f, t) => f -> (if (f.endsWith(".scala")) blank(t) else t) }
    val all = lexed.flatMap { case (f, c) => decls(f, c, allow) }
    // a use qualified by a capitalized name (`JsonMethods.compact`) is a
    // member of that object, so it reaches only declarations it owns
    val uses = codes.flatMap { case (f, c) =>
      Identifier.findAllMatchIn(c).map { m =>
        (m.matched, f, m.start, qualifier(c, m.start))
      }
    }.groupBy(_._1)
    val dead = mutable.LinkedHashSet.empty[Decl]
    def live(file: String, offset: Int) = !dead.exists(_.contains(file, offset))
    var changed = true
    while (changed) {
      changed = false
      all.foreach { d =>
        if (!d.pinned && !d.exempt && live(d.file, d.start) && !dead(d)) {
          val reached = uses.getOrElse(d.name, Nil).exists { case (_, f, o, q) =>
            !d.contains(f, o) && live(f, o) && q.forall(_ == d.owner)
          }
          if (!reached) { dead += d; changed = true }
        }
      }
    }
    dead.toSeq.filterNot(d => dead.exists(o => o != d && o.contains(d.file, d.start)))
  }

  /** Allowlist entries that no declaration has, or that are reached
    * without the allowlist. */
  def stale(program: Seq[(String, String)], callers: Seq[(String, String)],
            allow: Set[String]): Seq[String] = {
    val declared = program.flatMap { case (f, t) => decls(f, blank(t), Set.empty) }.map(_.key).toSet
    val needed = unreached(program, callers, Set.empty).map(_.key).toSet
    allow.toSeq.sorted.filter(k => !declared(k) || !needed(k))
  }
}

/** The program's reachability gate: every file and every def under
  * `src/main/scala` is reached from a root through code in `src/main/scala`,
  * `perfbench/src`, `deploy/` or the service registrations under
  * `src/main/resources` (see [[Reachability]] for the rules). Code
  * that only its own spec reaches is deleted, not kept. */
class ReachabilityLintSpec extends AnyFunSuite {
  import Reachability._

  /** Probes that specs call and that cannot move to `src/test`: each reads
    * private state of a live object. Entry -> the spec that reads it. An
    * entry is added or removed only with a CHANGES.md line. */
  val allowlist: Map[String, String] = Map(
    "SchemaMemo.memoized" -> "TableStoreSpec",
    "Debouncer.hasPending" -> "OpsSpec")

  private val mainRoot = Paths.get("src/main/scala")

  private def filesUnder(root: Path): Seq[(String, String)] =
    if (!Files.isDirectory(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
        .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      finally walk.close()
    }

  private lazy val program = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: ${mainRoot.toAbsolutePath}")
    filesUnder(mainRoot).filter(_._1.endsWith(".scala"))
  }
  private lazy val callers = Seq("perfbench/src", "deploy", "src/main/resources/META-INF/services")
    .flatMap(d => filesUnder(Paths.get(d)))
  private lazy val found = unreached(program, callers, allowlist.keySet)

  test("the sources are scanned") {
    assert(program.exists(_._1.endsWith("graft/Bench.scala")))
    assert(callers.exists(_._1.endsWith("perfbench/Main.scala")))
    val bench = program.find(_._1.endsWith("graft/Bench.scala")).get
    assert(decls(bench._1, blank(bench._2), Set.empty).map(_.key).contains("QueryTrace"))
  }

  test("every src/main/scala file defines a main or is named by another program file") {
    val deadFiles = program.filter { case (f, t) =>
      val types = decls(f, blank(t), Set.empty).filter(d => d.isType && d.owner.isEmpty)
      types.nonEmpty && types.forall(d => found.exists(u => u.file == f && u.key == d.key))
    }.map(_._1)
    assert(deadFiles.isEmpty,
      s"no entry point reaches these files; delete them or call them: ${deadFiles.mkString(", ")}")
  }

  test("every src/main/scala def is reached from outside its own body") {
    assert(found.isEmpty,
      s"no entry point reaches these; delete them or call them: ${found.mkString(", ")}")
  }

  test("the allowlist holds only probes that still exist and that only a spec reaches") {
    val s = stale(program, callers, allowlist.keySet)
    assert(s.isEmpty, s"stale allowlist entries; remove them: ${s.mkString(", ")}")
  }

  // ---- the gate itself, over in-memory sources ------------------------------

  private def keys(program: (String, String)*)(callers: (String, String)*): Seq[String] =
    unreached(program, callers, Set.empty).map(_.key)

  test("gate: a def named only in a comment or a plain string is unreached") {
    val a = "A.scala" ->
      """object A {
        |  def main(args: Array[String]): Unit = println("A.hidden and A.quoted")
        |  /** [[hidden]] is documented here */
        |  def hidden: Int = 1 // hidden
        |  def quoted: String = "x"
        |  def used: Char = '"'
        |  val x = used
        |}""".stripMargin
    assert(keys(a)() == Seq("A.hidden", "A.quoted"))
    // a same-named member of another object is not a caller
    val b = "B.scala" ->
      """object B {
        |  def main(args: Array[String]): Unit = println(JsonMethods.compact(B.size))
        |  def compact: Int = 1
        |  def size: Int = 2
        |}""".stripMargin
    assert(keys(b)() == Seq("B.compact"))
  }

  test("gate: a def called only from an unreached def is flagged on a later pass") {
    val a = "A.scala" ->
      """object A {
        |  def main(args: Array[String]): Unit = ()
        |  def outer: Int =
        |    inner + 1
        |  def inner: Int = 2
        |}
        |object B {
        |  def alone: Int = A.hashCode
        |}""".stripMargin
    assert(keys(a)().toSet == Set("A.outer", "A.inner", "B"))
  }

  test("gate: a call inside ${…} with nested quotes is a reach") {
    val a = "A.scala" ->
      """object A {
        |  def main(args: Array[String]): Unit =
        |    println(s"CASE WHEN ${"%s".format("embedding", plane(1))} THEN 1 END $tail")
        |  def plane(i: Int): String = s"p$i"
        |  def tail: String = "t"
        |  def ghost: String = s"text about ghost, $$ghost"
        |}""".stripMargin
    assert(keys(a)() == Seq("A.ghost"))
    // a perfbench-style caller outside the program reaches through code only
    val b = "B.scala" -> "object B {\n  def probe: Int = 3\n}"
    assert(keys(b)("Main.scala" -> "object M { val x = B.probe }") == Nil)
    assert(keys(b)("Main.scala" -> "object M { val x = \"B.probe\" }") == Seq("B"))
  }

  test("gate: an allowlist entry that is reached, or no longer exists, is stale") {
    val a = "A.scala" ->
      """object A {
        |  def main(args: Array[String]): Unit = println(used)
        |  def used: Int = 1
        |  def probe: Int = 2
        |}""".stripMargin
    assert(keys(a)() == Seq("A.probe"))
    assert(unreached(Seq(a), Nil, Set("A.probe")).isEmpty)
    assert(stale(Seq(a), Nil, Set("A.probe")) == Nil)
    assert(stale(Seq(a), Nil, Set("A.probe", "A.used", "A.gone")) == Seq("A.gone", "A.used"))
  }
}
