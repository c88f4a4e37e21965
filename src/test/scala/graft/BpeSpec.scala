package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Conservation laws and greedy-merge semantics of the BPE trainer
  * (TextAnalysis.bpeMerges). The oracle hash-checks the audit rows against
  * DuckDB's unrolled-CTE replay; these specs pin the invariants the replay
  * alone can't distinguish from a coincidence:
  *   - weighted character mass is invariant across rounds (a merge changes
  *     segmentation, never content);
  *   - positions shrink by exactly merge_sites each round;
  *   - the max pair count is non-increasing (merging the argmax can only
  *     reduce or preserve every other pair's count);
  *   - greedy left-to-right non-overlap on same-symbol runs matches the
  *     hand-computed reference on a synthetic run-heavy corpus.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = TextAnalysis.bpeMerges(spark, sfDir)
    .orderBy($"merge_round")
    .as[(Long, String, String, Long, Long, Long, Long, Long, Long)]
    .collect()

  private lazy val baseline = {
    val wc = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .where(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word").limit(300)
    wc.agg(sum($"n" * length($"word").cast("long")).as("mass"),
        sum(length($"word").cast("long")).as("positions"))
      .as[(Long, Long)].head()
  }

  test("char mass is conserved across every merge round") {
    val (mass0, _) = baseline
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, _, _, _, _, _, _, mass) => mass == mass0 })
  }

  test("positions shrink by exactly merge_sites each round") {
    val (_, pos0) = baseline
    rows.foldLeft(pos0) { case (prev, (_, _, _, _, sites, _, _, nPos, _)) =>
      assert(nPos == prev - sites)
      nPos
    }
  }

  test("max pair count is non-increasing across rounds") {
    val counts = rows.map { case (_, _, _, pc, _, _, _, _, _) => pc }
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(counts.head > 0L)
  }

  test("each merged symbol is the concatenation of the chosen pair and merges at least one site") {
    rows.foreach { case (r, l, rr, pc, sites, mass, vocab, _, _) =>
      assert(r >= 1L && l.nonEmpty && rr.nonEmpty)
      assert(sites >= 1L && mass >= sites) // each site carries weight >= 1
      assert(pc >= mass)                   // argmax count counts all sites pre-merge
      assert(vocab >= 1L)
    }
  }

  test("greedy left-to-right non-overlap matches the hand reference on same-symbol runs") {
    // Corpus of one dominant word 'aaaa' (weight 9) + 'ab' (weight 1):
    // round 1 must pick (a,a) and merge 'aaaa' -> ['aa','aa'] (2 sites,
    // even offsets of the 3-candidate run), never ['aa','a','a'].
    val docs = Seq.fill(9)("aaaa") ++ Seq("ab")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe-spec").toString
    try {
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.bpeMerges(spark, dir, rounds = 1, topWords = 10)
        .as[(Long, String, String, Long, Long, Long, Long, Long, Long)].collect()
      val (_, l, r, pc, sites, mass, vocab, nPos, cm) = out.head
      assert(l == "a" && r == "a")
      assert(pc == 9L * 3)    // 3 candidate sites in the 'aaaa' type, weight 9
      assert(sites == 2L && mass == 18L) // even offsets only, never 1 or 3
      assert(nPos == 2L + 2L) // type 'aaaa'->['aa','aa'], type 'ab'->['a','b']
      assert(cm == 9L * 4 + 2) // content conserved
      assert(vocab == 3L)      // {'aa','a','b'}
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(dir))
  }

  test("bpe encode: tokens bounded by words and chars, saved_micro is the floor-div fraction") {
    val enc = TextAnalysis.bpeEncode(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(enc.length > 100)
    enc.foreach { case (_, nWords, nChars, nTokens, saved) =>
      assert(nWords >= 1L && nTokens >= nWords) // every word is >= 1 token
      assert(nTokens <= nChars)                 // merging can only shrink
      assert(saved == (nChars - nTokens) * 1000000L / nChars)
    }
    // 4 merge rounds on real text must actually compress something.
    assert(enc.exists { case (_, _, nChars, nTokens, _) => nTokens < nChars })
  }

  test("bpe encode matches hand counts on the run corpus (merges apply outside the train set)") {
    val docs = Seq.fill(9)("aaaa") ++ Seq("ab")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe-enc-spec").toString
    try {
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val enc = TextAnalysis.bpeEncode(spark, dir, rounds = 1, topWords = 10)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // round 1 learns (a,a): 'aaaa' -> ['aa','aa'], 'ab' stays 2 chars
      val aaaa = enc.filter(_._1 < 9)
      assert(aaaa.size == 9)
      aaaa.foreach { case (_, w, c, t, s) =>
        assert(w == 1L && c == 4L && t == 2L && s == 500000L)
      }
      assert(enc.find(_._1 == 9L).get == ((9L, 1L, 2L, 2L, 0L)))
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(dir))
  }

  test("bpe merges are deterministic across runs") {
    val again = TextAnalysis.bpeMerges(spark, sfDir)
      .orderBy($"merge_round")
      .as[(Long, String, String, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(again.toSeq == rows.toSeq)
  }
}
