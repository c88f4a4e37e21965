package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SourceScan.{hits, mainSources}

/** Source lint for two rules stated once: the per-key top-k order (score
  * desc, then id asc) lives in `VectorSearch.topKPerKey`/`rankTopK`, and
  * the delete set (`id % 17 = 3`) in `Tables.deleted`. The oracle SQL
  * texts restate both in SQL; string literals and comments are not
  * scanned.
  */
class RankRuleLintSpec extends AnyFunSuite {

  /** A per-key window ordered by a literal score column desc, then a literal id. */
  private val rankWindow =
    """partitionBy\([^\n]*?\)\s*\.orderBy\(\s*col\("\w+"\)\.desc\s*,\s*col\("\w+"\)\s*\)""".r
  private val deleteMod = """%\s*17\b""".r
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
