package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Dead-definition gate: every `def`/`val`/`var` declared under `src/main`
  * must be named somewhere else in `src/` or `lifebench/src`. A name that
  * occurs once in all of that source occurs only at its own definition, so
  * nothing reaches it. `override`, `implicit` and `main` are reached
  * without being named and are exempt; there is no allowlist.
  */
class DeadDefSpec extends AnyFunSuite {

  private val definition =
    ("""((?:\b(?:override|implicit|private|protected|final|lazy|sealed)\b(?:\[\w+\])?\s+)*)""" +
      """\b(?:def|val|var)\s+([A-Za-z_]\w*)""").r
  private val word = """[A-Za-z_]\w*""".r

  /** (file, name) of every definition in `defining` whose name occurs once
    * in `corpus` (`defining` is part of `corpus`).
    */
  private def dead(defining: Map[String, String], corpus: Iterable[String]): Seq[(String, String)] = {
    val uses = corpus.iterator.flatMap(word.findAllIn).toSeq.groupBy(identity).view.mapValues(_.size).toMap
    defining.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      definition.findAllMatchIn(src).collect {
        case m if !m.group(1).matches("""(?s).*\b(?:override|implicit)\b.*""") &&
          m.group(2) != "main" && uses.getOrElse(m.group(2), 0) <= 1 => (file, m.group(2))
      }
    }
  }

  test("lint: the scanner flags a definition named nowhere else, and only that") {
    val a =
      """object A {
        |  def main(args: Array[String]): Unit = used()
        |  private[graft] def used(): Unit = ()
        |  override def toString: String = "A"
        |  implicit val ordering: Ordering[Int] = Ordering.Int
        |  def orphan(x: Int): Int = { val lonely = x; x }
        |  lazy val calledElsewhere = 1
        |}""".stripMargin
    val b = "object B { val n = A.calledElsewhere }"
    assert(dead(Map("A" -> a), Seq(a, b)) == Seq("A" -> "orphan", "A" -> "lonely"))
  }

  test("lint: every definition under src/main is named somewhere else") {
    val roots = Seq("src", "lifebench/src").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}"))
    val sources = roots.flatMap(r => Files.walk(r).toArray.map(_.asInstanceOf[Path]))
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.toString -> Files.readString(f)).toMap
    val main = sources.filter { case (f, _) => f.startsWith(Paths.get("src", "main").toString) }
    assert(main.size > 50)
    val bad = dead(main, sources.values)
    assert(bad.isEmpty, "definitions nothing names:\n" + bad.map { case (f, n) => s"$f: $n" }.mkString("\n"))
  }
}
