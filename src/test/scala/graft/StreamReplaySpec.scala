package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.types._
import graft.streaming.StreamOps

/** The run contract of [[StreamOps.replay]], the one AvailableNow run
  * every streaming query goes through, where no query spec covers it: a
  * failing batch, a run that writes nothing, and a lint that keeps the
  * trigger inside the primitive.
  */
class StreamReplaySpec extends SparkSpec {

  private def scratchDirs(): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).getOrElse(Array.empty[String]).filter(_.startsWith("graft-replay")).toSet
  }

  test("replay: a batch that throws fails the run and leaves no scratch dir") {
    val before = scratchDirs()
    val e = intercept[Exception] {
      StreamOps.replay(StreamOps.readTableStream(spark, sfDir, "embeddings"),
        StreamOps.Batches((_, id) => throw new IllegalStateException(s"batch $id refused")))
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("batch 0 refused")),
      causes.map(_.toString).mkString("\n"))
    assert(scratchDirs() == before, "the failed run's scratch dir was left behind")
  }

  test("replay: batches that write no rows return an empty frame of the sink schema") {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = new StructType().add("vec_id", LongType).add("batch_id", LongType)
    val before = scratchDirs()
    // no file at all, and a partitioned write of zero rows (the output
    // dir exists but holds no data file)
    val writers: Seq[(org.apache.spark.sql.DataFrame, Long, String) => Unit] = Seq(
      (_, _, _) => (),
      (batch, id, out) => batch.filter(lit(false)).select(col("vec_id"))
        .withColumn("batch_id", lit(id))
        .write.mode("append").partitionBy("batch_id").parquet(out))
    writers.foreach { write =>
      val got = StreamOps.replay(StreamOps.readTableStream(spark, sfDir, "embeddings"),
        StreamOps.ScratchParquet(schema, write, identity))
      assert(got.schema == schema)
      assert(got.count() == 0)
    }
    assert(scratchDirs() == before)
  }

  test("lint: Trigger.AvailableNow appears in exactly one place under src/main") {
    val needle = "Trigger." + "AvailableNow"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"lint must run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val hits = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readString(f).linesIterator.zipWithIndex
          .collect { case (l, i) if l.contains(needle) => s"${root.relativize(f)}:${i + 1}" }
      }
    assert(hits.length == 1 && hits.head.startsWith("graft/streaming/StreamOps.scala:"),
      s"$needle outside the one replay primitive:\n" + hits.mkString("\n"))
  }
}
