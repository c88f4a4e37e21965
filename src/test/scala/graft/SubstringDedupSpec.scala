package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Span-level (suffix-array-style) dedup: hand-computed runs on a crafted
  * corpus, plus exactness/maximality properties on the sf0.001 testdata.
  */
class SubstringDedupSpec extends SparkSpec {

  /** Crafted corpus with known shared spans (all tokens otherwise unique):
    *  - doc 1: w1..w20 (20 words)
    *  - doc 2: x1..x5 ++ w5..w14 ++ y1..y3 (10-word span shared with doc 1)
    *  - doc 3: 3 words (below the k=5 gram floor — must be invisible)
    *  - doc 4: exact copy of doc 1
    *  - doc 5: z1..z4 ++ w1..w7 (7-word span — detected at 7, filtered by minSpan=8)
    */
  private var tmpDir: Option[String] = None

  private lazy val craftedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("substr_docs").toString
    tmpDir = Some(dir)
    val w = (1 to 20).map("w" + _)
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, ((1 to 5).map("x" + _) ++ w.slice(4, 14) ++ (1 to 3).map("y" + _)).mkString(" ")),
      (3L, "a b c"),
      (4L, w.mkString(" ")),
      (5L, ((1 to 4).map("z" + _) ++ w.take(7)).mkString(" ")))
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }

  override def afterAll(): Unit =
    try tmpDir.foreach(d => graft.streaming.StreamOps.rmTree(new java.io.File(d)))
    finally super.afterAll()

  test("crafted corpus: exact maximal runs, short docs invisible, sub-minSpan filtered") {
    val runs = Dedup.substringRuns(spark, craftedDir)
      .select("id_a", "id_b", "pos_a", "pos_b", "span_words")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(runs.toSet == Set(
      (1L, 2L, 5L, 6L, 10L),
      (1L, 4L, 1L, 1L, 20L),
      (2L, 4L, 6L, 5L, 10L)))
  }

  test("crafted corpus: per-doc coverage merges overlapping intervals once") {
    val stats = Dedup.substringStats(spark, craftedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(stats.toSet == Set(
      (1L, 20L, 1L, 20L, 1000000L),
      (2L, 18L, 1L, 10L, 555555L),
      (4L, 20L, 1L, 20L, 1000000L)))
  }

  test("sf0.001: every reported run is a verbatim shared span (exactness)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val runs = Dedup.substringRuns(spark, sfDir)
    assert(runs.count() > 0, "testdata should contain duplicated spans")
    val checked = runs
      .join(docs.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("frag_a", slice(col("ws_a"), col("pos_a").cast("int"), col("span_words").cast("int")))
      .withColumn("frag_b", slice(col("ws_b"), col("pos_b").cast("int"), col("span_words").cast("int")))
    assert(checked.filter(col("frag_a") =!= col("frag_b")).count() == 0)
    // maximality: the word just before/after the run must differ (or run off an end)
    val leftExt = checked.filter(col("pos_a") > 1 && col("pos_b") > 1 &&
      element_at(col("ws_a"), (col("pos_a") - 1).cast("int")) ===
        element_at(col("ws_b"), (col("pos_b") - 1).cast("int")))
    val rightExt = checked.filter(
      col("pos_a") + col("span_words") <= size(col("ws_a")) &&
      col("pos_b") + col("span_words") <= size(col("ws_b")) &&
      element_at(col("ws_a"), (col("pos_a") + col("span_words")).cast("int")) ===
        element_at(col("ws_b"), (col("pos_b") + col("span_words")).cast("int")))
    assert(leftExt.count() == 0, "a run extendable to the left is not maximal")
    assert(rightExt.count() == 0, "a run extendable to the right is not maximal")
  }

  test("crafted corpus: prune keeps every span only in its lowest-id doc") {
    val out = Dedup.substringPrune(spark, craftedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val w = (1 to 20).map("w" + _)
    assert(out == Set(
      (1L, 20L, 20L, w.mkString(" ")),
      (2L, 18L, 8L, "x1 x2 x3 x4 x5 y1 y2 y3"),
      (3L, 3L, 3L, "a b c"),
      (4L, 20L, 0L, ""),
      (5L, 11L, 11L, ((1 to 4).map("z" + _) ++ w.take(7)).mkString(" "))))
  }

  test("crafted corpus: source matrix aggregates runs per unordered source pair") {
    val m = Dedup.substringSourceMatrix(spark, craftedDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(m.toSeq == Seq(("t", "t", 3L, 40L)))
  }

  test("sf0.001: prune only cuts docs that appear as the higher-id side") {
    val runs = Dedup.substringRuns(spark, sfDir)
    val cutIds = runs.select(col("id_b").as("doc_id")).distinct()
    val pruned = Dedup.substringPrune(spark, sfDir)
    assert(pruned.filter(col("n_kept") > col("n_words")).count() == 0)
    val untouched = pruned.join(cutIds, Seq("doc_id"), "left_anti")
    assert(untouched.filter(col("n_kept") =!= col("n_words")).count() == 0,
      "a doc never on the id_b side must survive intact")
    val touched = pruned.join(cutIds, "doc_id")
    assert(touched.filter(col("n_kept") === col("n_words")).count() == 0,
      "every id_b-side doc loses at least one word (runs are ≥ minSpan)")
    // full-corpus row count preserved: prune is a rewrite, not a filter
    assert(pruned.count() == Tables.documents(spark, sfDir).count())
  }

  test("sf0.001: stats are internally consistent with runs") {
    val stats = Dedup.substringStats(spark, sfDir)
    assert(stats.filter(col("dup_words") > col("n_words")).count() == 0)
    assert(stats.filter(col("dup_spans") < 1).count() == 0)
    assert(stats.filter(col("dup_frac_micro") =!=
      floor(col("dup_words").cast("double") / col("n_words").cast("double") * 1e6).cast("long"))
      .count() == 0)
    // every doc named by a run appears in the stats, and no others
    val runs = Dedup.substringRuns(spark, sfDir)
    val named = runs.select(col("id_a").as("doc_id"))
      .unionAll(runs.select(col("id_b").as("doc_id"))).distinct()
    assert(stats.select("doc_id").except(named).count() == 0)
    assert(named.except(stats.select("doc_id")).count() == 0)
  }
}
