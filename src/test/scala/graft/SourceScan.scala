package graft

import java.nio.file.{Files, Path, Paths}
import scala.util.matching.Regex

/** The source linters' scanner: finds a pattern in the code of a Scala
  * file, skipping comments and string and char literals.
  */
object SourceScan {

  /** Per offset of `src`: true iff it is code, i.e. not inside a comment
    * or a string or char literal (interpolated blocks included).
    */
  private def codeMask(src: String): Array[Boolean] = {
    val n = src.length
    val mask = Array.fill(n)(true)
    def at(j: Int, s: String) = src.startsWith(s, j)
    /** The end of the non-code token at `i`, or `i` if code starts there. */
    def skip(i0: Int): Int = {
      var i = i0
      if (at(i, "//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at(i, "/*")) {
        var depth = 1; i += 2
        while (i < n && depth > 0) {
          if (at(i, "/*")) { depth += 1; i += 2 }
          else if (at(i, "*/")) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (at(i, "\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) n else end + 3
      } else if (src(i) == '"') {
        i += 1
        while (i < n && src(i) != '"' && src(i) != '\n') {
          if (at(i, "${")) {
            i += 1
            var depth = 0
            do { if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1; i += 1 }
            while (i < n && depth > 0)
          } else i += (if (src(i) == '\\') 2 else 1)
        }
        i += 1
      } else if (src(i) == '\'') {
        val m = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r.findPrefixOf(src.substring(i, math.min(n, i + 8)))
        i += m.map(_.length).getOrElse(0)
      }
      math.min(i, n)
    }
    var i = 0
    while (i < n) {
      val end = skip(i)
      if (end == i) i += 1
      else { (i until end).foreach(mask(_) = false); i = end }
    }
    mask
  }

  private val defName = """\bdef\s+(\w+)""".r

  /** Lines of `src` where `pattern` starts in code, outside the defs named `exempt`. */
  def hits(src: String, pattern: Regex, exempt: Set[String]): Seq[Int] = {
    val mask = codeMask(src)
    val defs = defName.findAllMatchIn(src).filter(d => mask(d.start)).toSeq
    pattern.findAllMatchIn(src).filter(m => mask(m.start)).filterNot { m =>
      defs.takeWhile(_.start < m.start).lastOption.exists(d => exempt(d.group(1)))
    }.map(m => src.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  def mainSources(): Seq[(String, String)] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> Files.readString(f)).toSeq.sortBy(_._1)
  }
}
