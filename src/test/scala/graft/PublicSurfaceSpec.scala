package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Public-surface census: every member `def` of a top-level `object` in
  * `ext/`, `ops/`, `streaming/` and `sources/` must be named somewhere
  * else in `src/main` or `src/test` — by a driver query, another
  * operator or a spec. Comments and scaladoc do not count: a function
  * that only a doc mentions has no caller. A definition is not a use, so
  * every `def name` is subtracted from the count of `name`. Members no
  * code calls by name are outside the census: `override` and `implicit`
  * members (the framework or the compiler calls them) and
  * `apply`/`unapply` (called by syntax).
  *
  * There is no allowlist. A new operator that nothing calls fails here;
  * delete it or give it a spec. */
class PublicSurfaceSpec extends AnyFunSuite {

  private val root: File = Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
    .takeWhile(_ != null)
    .find(d => new File(d, "src/main/scala/graft").isDirectory)
    .getOrElse(fail("no src/main/scala/graft above the working directory"))

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def read(f: File): String = {
    val src = Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** (code, skeleton) of a Scala source: `code` has every comment
    * blanked, `skeleton` also blanks string and char literal contents, so
    * braces inside literals never move the depth count. Line and column
    * positions are kept. */
  private def blank(s: String): (String, String) = {
    val code = s.toCharArray
    val skel = s.toCharArray
    val n = s.length
    def clear(a: Array[Char], from: Int, until: Int): Unit =
      (from until math.min(until, n)).foreach(j => if (a(j) != '\n') a(j) = ' ')
    var i = 0
    while (i < n) {
      if (s.startsWith("//", i)) {
        val e = { val j = s.indexOf('\n', i); if (j < 0) n else j }
        clear(code, i, e); clear(skel, i, e); i = e
      } else if (s.startsWith("/*", i)) {
        var depth = 0
        var j = i
        var open = true
        while (j < n && open) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2; open = depth > 0 }
          else j += 1
        }
        clear(code, i, j); clear(skel, i, j); i = j
      } else if (s.startsWith("\"\"\"", i)) {
        var j = s.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j
        while (j + 3 < n && s(j + 3) == '"') j += 1
        clear(skel, i + 3, j); i = j + 3
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < n && s(j) != '"' && s(j) != '\n') j += (if (s(j) == '\\') 2 else 1)
        clear(skel, i + 1, j); i = j + 1
      } else if (s(i) == '\'' && i + 2 < n && s(i + 1) != '\\' && s(i + 2) == '\'') {
        clear(skel, i + 1, i + 2); i += 3
      } else if (s(i) == '\'' && i + 1 < n && s(i + 1) == '\\') {
        val j = s.indexOf('\'', i + 3)
        val e = if (j < 0) n else j
        clear(skel, i + 1, e); i = e + 1
      } else i += 1
    }
    (new String(code), new String(skel))
  }

  private val DefName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val TopObject = """(?m)^(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+\w+""".r

  /** Names of the census members of `skel`'s top-level objects: defs at
    * depth 1 inside a depth-0 `object … { }` body. */
  private def memberDefs(skel: String): Seq[String] =
    TopObject.findAllMatchIn(skel).toSeq.flatMap { m =>
      val open = skel.indexOf('{', m.end)
      val header = if (open < 0) "" else skel.substring(m.end, open)
      if (open < 0 || """\b(class|object|trait|def|val)\b""".r.findFirstIn(header).isDefined) Nil
      else {
        val depthAt = skel.drop(open).scanLeft(0) { (d, c) =>
          if (c == '{') d + 1 else if (c == '}') d - 1 else d
        }.tail
        val end = open + depthAt.indexWhere(_ == 0) + 1
        DefName.findAllMatchIn(skel.substring(open, end)).collect {
          case d if depthAt(d.start) == 1 && !Set("apply", "unapply")(d.group(1)) && {
                val line = skel.substring(skel.lastIndexOf('\n', open + d.start) + 1, open + d.start)
                !line.contains("override") && !line.contains("implicit")
              } => d.group(1)
        }.toSeq
      }
    }

  test("every public member of ext/, ops/, streaming/ and sources/ is named by other code") {
    val main = new File(root, "src/main/scala/graft")
    val all = scalaFiles(main) ++ scalaFiles(new File(root, "src/test/scala"))
    val blanked = all.map(f => f -> blank(read(f))).toMap
    val code = all.map(f => blanked(f)._1).mkString("\n")
    val censused = Seq("ext", "ops", "streaming", "sources")
      .flatMap(d => scalaFiles(new File(main, d)))
    assert(censused.size > 40, s"census found only ${censused.size} files under $main")
    val members = censused.flatMap(f => memberDefs(blanked(f)._2).map(f.getName -> _))
    assert(members.size > 300, s"census found only ${members.size} members")
    val named = """\b[A-Za-z_][A-Za-z0-9_]*\b""".r.findAllIn(code).toSeq
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val defined = DefName.findAllMatchIn(code).toSeq
      .groupMapReduce(_.group(1))(_ => 1)(_ + _)
    val unnamed = members.filter { case (_, name) =>
      named.getOrElse(name, 0) - defined.getOrElse(name, 0) <= 0
    }.distinct
    assert(unnamed.isEmpty,
      "public functions nothing names outside their definition (delete them or give " +
        "them a spec): " + unnamed.map { case (f, n) => s"$f:$n" }.mkString(", "))
  }
}
