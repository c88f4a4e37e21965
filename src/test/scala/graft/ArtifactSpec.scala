package graft

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Artifact

/** The build-once contract of [[graft.sources.Artifact]], plus a source
  * lint that keeps the marker format inside that one module.
  */
class ArtifactSpec extends AnyFunSuite {

  private def withStore(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-artifact")
    try f(dir.resolve("store").toString)
    finally graft.streaming.StreamOps.rmTree(dir.toFile)
  }

  private def put(path: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, name), text)
  }

  private def text(path: String, name: String): String = Files.readString(Paths.get(path, name))

  test("a current key with all outputs present does not build") {
    withStore { p =>
      assert(Artifact.ensure(p, "k1", Seq("out"))(put(p, "out", "v1")))
      var builds = 0
      assert(!Artifact.ensure(p, "k1", Seq("out")) { builds += 1 })
      assert(builds == 0 && text(p, "out") == "v1")
    }
  }

  test("a stale key rebuilds and re-stamps, in the on-disk marker formats") {
    withStore { p =>
      Artifact.ensure(p, "k1", Seq("out"))(put(p, "out", "v1"))
      assert(Artifact.ensure(p, "k2", Seq("out"))(put(p, "out", "v2")))
      assert(text(p, "out") == "v2")
      // a content marker holds exactly the key, no trailing newline
      assert(text(p, "_built_from") == "k2")
      // a named marker is one empty file per store, the key in its name
      Artifact.ensure(p, "123", marker = Artifact.SrcFp)(())
      Artifact.ensure(p, "-456", marker = Artifact.SrcFp)(())
      val stamps = new java.io.File(p).listFiles().map(_.getName).filter(_.startsWith("_src_fp_"))
      assert(stamps.toSeq == Seq("_src_fp_-456"))
      assert(Files.size(Paths.get(p, "_src_fp_-456")) == 0)
    }
  }

  test("a current marker with a missing output rebuilds") {
    withStore { p =>
      Artifact.ensure(p, "k1", Seq("out", "side"))(Seq("out", "side").foreach(put(p, _, "v1")))
      Files.delete(Paths.get(p, "side"))
      assert(Artifact.ensure(p, "k1", Seq("out", "side"))(Seq("out", "side").foreach(put(p, _, "v2"))))
      assert(text(p, "side") == "v2" && Artifact.BuiltFrom.holds(p, "k1"))
    }
  }

  test("a build that throws midway leaves no current marker, and the next call rebuilds") {
    withStore { p =>
      Artifact.ensure(p, "k1", Seq("out"))(put(p, "out", "v1"))
      Files.delete(Paths.get(p, "out"))
      intercept[IllegalStateException] {
        Artifact.ensure(p, "k1", Seq("out")) {
          put(p, "out", "torn") // every output present, the build unfinished
          throw new IllegalStateException("killed mid-build")
        }
      }
      assert(!Artifact.BuiltFrom.holds(p, "k1"), "an interrupted build must not look current")
      assert(Artifact.ensure(p, "k1", Seq("out"))(put(p, "out", "v2")))
      assert(text(p, "out") == "v2")
    }
  }

  test("two concurrent ensures of one path run the build exactly once") {
    withStore { p =>
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 2).map { _ =>
        Future(blocking {
          start.await()
          Artifact.ensure(p, "k1", Seq("out")) {
            builds.incrementAndGet()
            Thread.sleep(200) // keep the build open while the other call arrives
            put(p, "out", "v1")
          }
        })
      }
      start.countDown()
      val built = calls.map(Await.result(_, 30.seconds))
      assert(builds.get() == 1, s"build ran ${builds.get()} times")
      assert(built.count(identity) == 1)
    }
  }

  // --- source lint: the marker file names appear in string literals of
  // Artifact.scala only; everyone else goes through its constants.

  private val markerInLiteral =
    ("""(?<![A-Za-z0-9])_(?:build_id|ivf_build_id|src_fp|built_from|maint_from|""" +
      """stream_complete|tuned_beam_|fp_|l\d+_from|\$\{?\w+\}?_from)""").r

  /** The contents of every string literal in Scala source `src`, comments
    * skipped (line, nested block and Scaladoc) and char literals stepped over.
    */
  private def stringLiterals(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val n = src.length
    var i = 0
    def at(j: Int, s: String) = src.startsWith(s, j)
    while (i < n) {
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
        val stop = if (end < 0) n else end
        out += src.substring(i + 3, stop)
        i = stop + 3
      } else if (src(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < n) { sb.append(src.substring(i, i + 2)); i += 2 }
          else if (at(i, "${")) { // interpolated block: keep it, nested quotes included
            sb.append("${"); i += 2
            var depth = 1
            while (i < n && depth > 0) {
              if (src(i) == '{') depth += 1
              if (src(i) == '}') depth -= 1
              sb.append(src(i)); i += 1
            }
          } else { sb.append(src(i)); i += 1 }
        }
        out += sb.result()
        i += 1
      } else if (src(i) == '\'') {
        val m = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r.findPrefixOf(src.substring(i, math.min(n, i + 8)))
        i += m.map(_.length).getOrElse(1)
      } else i += 1
    }
    out.result()
  }

  private def violations(src: String): Seq[String] =
    stringLiterals(src).filter(l => markerInLiteral.findFirstIn(l).nonEmpty)

  test("lint: the literal scanner flags marker names in literals only") {
    val flagged = violations(
      """val a = s"$path/_build_id"
        |val b = new File(p, s"_${name}_from")
        |val c = "_src_fp_" + fp
        |val d = s"$p/_tuned_beam_$t"
        |val e = s"_fp_$fp"
        |""".stripMargin)
    assert(flagged.size == 5, flagged)
    val clean = violations(
      """// writes "_build_id" last
        |/** The `_built_from` marker; "_maint_from" too. /* nested "_fp_" */ */
        |val n = col("n").as("n_from")
        |val q = '"'; val r = "max_fp_rate" // a quote in a comment: "
        |val s = s"${m.get("k")}/part" ; val t = "_absorbed_batch_"
        |""".stripMargin)
    assert(clean.isEmpty, clean)
  }

  test("lint: no file but Artifact.scala names a marker in a string literal") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Artifact.scala")
    assert(files.length > 50)
    val bad = files.flatMap { f =>
      violations(Files.readString(f)).map(l => s"${root.relativize(f)}: \"$l\"")
    }
    assert(bad.isEmpty, "marker names outside Artifact.scala:\n" + bad.mkString("\n"))
  }

  // --- source lint: an IVF store's rows are read through IndexStore.read,
  // which adds the absorb segments; a direct read of a `…/rows` root would
  // silently miss them. PartitionedStore reads its own (segment-free) rows.

  private val parquetRead = """(?:storeParquet|read\s*\.\s*parquet)\s*\(([^\n]*)""".r

  /** The argument lines of every parquet read of a `…/rows` root in `src`. */
  private def rowsReads(src: String): Seq[String] =
    parquetRead.findAllMatchIn(src).map(_.group(1))
      .filter(args => """/rows\b""".r.findFirstIn(args).nonEmpty).toSeq

  test("lint: the rows-read scanner flags direct reads of a rows root only") {
    val flagged = rowsReads(
      """val a = graft.Tables.storeParquet(spark, s"$work/rows").count()
        |val b = spark.read.parquet(s"$p/rows")
        |val c = spark.read .parquet(IndexStore.defaultPath(d) + "_sab/rows")
        |""".stripMargin)
    assert(flagged.size == 3, flagged)
    val clean = rowsReads(
      """val d = graft.Tables.storeParquet(spark, s"$p/rows_meta")
        |val e = IndexStore.read(spark, work)._1
        |val f = graft.Tables.storeParquet(spark, s"$p/edges")
        |""".stripMargin)
    assert(clean.isEmpty, clean)
  }

  test("lint: no file but IndexStore.scala and PartitionedStore.scala reads a rows root directly") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val allowed = Set("IndexStore.scala", "PartitionedStore.scala")
    val files = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(f => f.toString.endsWith(".scala") && !allowed(f.getFileName.toString))
    assert(files.length > 50)
    val bad = files.flatMap(f => rowsReads(Files.readString(f)).map(a => s"${root.relativize(f)}: $a"))
    assert(bad.isEmpty, "direct reads of a rows root (use IndexStore.read):\n" + bad.mkString("\n"))
  }
}
