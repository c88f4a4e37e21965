package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for two rules stated once: the per-key top-k order (score
  * desc, then id asc) lives in `VectorSearch.topKPerKey`/`rankTopK`, and
  * the delete set (`id % 17 = 3`) in `Tables.deleted`. The oracle SQL
  * texts restate both in SQL; string literals and comments are not
  * scanned.
  */
class RankRuleLintSpec extends AnyFunSuite {

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

  /** A per-key window ordered by a literal score column desc, then a literal id. */
  private val rankWindow =
    """partitionBy\([^\n]*?\)\s*\.orderBy\(\s*col\("\w+"\)\.desc\s*,\s*col\("\w+"\)\s*\)""".r
  private val deleteMod = """%\s*17\b""".r
  private val defName = """\bdef\s+(\w+)""".r

  /** Lines of `src` where `pattern` starts in code, outside the defs named `exempt`. */
  private def hits(src: String, pattern: scala.util.matching.Regex, exempt: Set[String]): Seq[Int] = {
    val mask = codeMask(src)
    val defs = defName.findAllMatchIn(src).filter(d => mask(d.start)).toSeq
    pattern.findAllMatchIn(src).filter(m => mask(m.start)).filterNot { m =>
      defs.takeWhile(_.start < m.start).lastOption.exists(d => exempt(d.group(1)))
    }.map(m => src.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  private val primitive = Set("topKPerKey", "rankTopK")

  test("lint: the scanner flags literal rank windows and % 17 in code only, outside the exempt defs") {
    val src =
      """object A {
        |  def topKPerKey(df: DataFrame) = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        |  def copy(df: DataFrame) = {
        |    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
        |    // Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        |    val sql = "ORDER BY sim DESC, vec_id WHERE vec_id % 17 = 3"
        |    val q = '"'; val ok = Window.orderBy(col("rrf").desc, col("doc_id"))
        |    df.filter(col("vec_id") % 17 === 3)
        |  }
        |  /** deletes `id % 17 = 3` */
        |  def deleted(id: Column): Column = id % 17 === 3
        |}""".stripMargin
    assert(hits(src, rankWindow, primitive) == Seq(4))
    assert(hits(src, deleteMod, Set("deleted")) == Seq(8))
    assert(hits(src, rankWindow, Set.empty) == Seq(2, 4))
  }

  private def mainSources(): Seq[(String, String)] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> Files.readString(f)).toSeq.sortBy(_._1)
  }

  test("lint: every per-key top-k in the vector search paths goes through VectorSearch's rule") {
    val files = Set("operators/VectorSearch.scala", "operators/Quantize.scala",
      "sources/IndexStore.scala", "sources/PqStore.scala", "sources/GraphIndex.scala")
    val scanned = mainSources().filter { case (f, _) => files(f) }
    assert(scanned.size == files.size, scanned.map(_._1))
    val bad = scanned.flatMap { case (f, src) =>
      hits(src, rankWindow, if (f == "operators/VectorSearch.scala") primitive else Set.empty)
        .map(l => s"$f:$l")
    }
    assert(bad.isEmpty, "per-key rank windows outside VectorSearch.topKPerKey/rankTopK:\n" + bad.mkString("\n"))
  }

  test("lint: no DataFrame code in src/main restates the delete set outside Tables.deleted") {
    val sources = mainSources()
    assert(sources.size > 50)
    val bad = sources.flatMap { case (f, src) =>
      hits(src, deleteMod, if (f == "Tables.scala") Set("deleted") else Set.empty).map(l => s"$f:$l")
    }
    assert(bad.isEmpty, "% 17 outside Tables.deleted:\n" + bad.mkString("\n"))
  }
}
