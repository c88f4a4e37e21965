package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions.micro

/** Text-analysis operators over the `documents` table (LLM-pipeline north
  * star; F2 in SURVEY.md §2.5): quality stats, language-ID heuristic, token
  * counting, rolling-hash fingerprinting, n-gram frequency.
  *
  * Everything is a pure columnar projection/aggregation — scan-bound and
  * embarrassingly parallel, the ideal 100 TB shape (no shuffle except the
  * explicit frequency aggregations).
  */
object TextAnalysis {

  private def words(c: Column): Column = split(c, " ")

  /** PII patterns for [[redact]] — written in the Java-regex ∩ RE2 common
    * subset so the DuckDB oracle replays them verbatim.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val LongNumRe = "\\b\\d{4,}\\b"

  /** PII scrub — the standard pre-training privacy pass (C4/Gopher-style
    * pipelines mask addresses and identifiers before anything is trained
    * on). Emails, IPv4 addresses, and long digit runs (phone/account-like)
    * become typed mask tokens; per-row match counts make the scrub
    * auditable (sum them for the corpus privacy report). Pure scan-bound
    * regexp projections — no shuffle at any scale, and idempotent (mask
    * tokens contain no maskable text; asserted in the spec).
    */
  def redact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(col(textCol), lit(Ipv4Re)).cast("long"))
      .withColumn("n_nums", regexp_count(col(textCol), lit(LongNumRe)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          LongNumRe, "<NUM>"))

  /** [[redact]] as a named query, over the corpus that actually carries
    * PII-shaped text: the synthetic packet feed (every row an IPv4; digit
    * runs appear only where frames are large — the op must bite
    * differentially, not uniformly). The documents table is PII-free by
    * construction — OperatorSpec asserts redaction is the identity there.
    */
  def redactQuery(spark: SparkSession): DataFrame =
    redact(FlowParity.synthPackets(spark), "packet_text")
      .select(col("frame_number"), col("redacted"),
        col("n_ips"), col("n_nums"), col("n_emails"))
      .orderBy(col("frame_number"))

  /** Quality-scoring stats: char/word counts, word-length distribution,
    * stopword ratio — the standard heuristic-filter features.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val d = Tables.documents(spark, dir)
      .withColumn("ws", words(col("text")))
    // sum of word lengths = chars − separators: split's segments joined by
    // single spaces reconstruct the text EXACTLY (empty segments included),
    // so the identity len(text) − (n_words − 1) replaces a per-row fold.
    // The stopword count is bound once and the ratio reads the attribute —
    // the filter HOF runs one pass per row, not two.
    d.select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        col("n_chars"),
        size(col("ws")).as("n_words"),
        (length(col("text")) - size(col("ws")) + 1).cast("long").as("sum_word_len"),
        size(filter(col("ws"), w => w.isin(stop.map(lit): _*))).as("n_stopwords"))
      .select(col("doc_id"), col("n_chars_calc"), col("n_chars"), col("n_words"),
        col("sum_word_len"), col("n_stopwords"),
        micro(col("n_stopwords").cast("double") /
          col("n_words").cast("double")).as("stopword_ratio_micro"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID n-gram/stopword heuristic: score each language by its
    * marker-word hits; argmax with fixed precedence order (en > es > de >
    * fr > zh on ties). Deterministic, SQL-expressible — NOT a trained model
    * (none available offline), which matches how the engine would slot a
    * real lang-id UDF in.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val lex: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "la", "de", "que"),
      "de" -> Seq("der", "die", "und", "das"),
      "fr" -> Seq("le", "la", "et", "les"),
      "zh" -> Seq("的", "了", "是", "在"))
    val d = Tables.documents(spark, dir).withColumn("ws", words(col("text")))
    val scored = lex.foldLeft(d) { case (df, (l, ms)) =>
      df.withColumn(s"score_$l",
        size(filter(col("ws"), w => w.isin(ms.map(lit): _*))))
    }
    val best = lex.map(_._1).map(l => col(s"score_$l"))
    val pred = lex.map(_._1).foldRight(lit("unk"): Column) { case (l, els) =>
      when(col(s"score_$l") === greatest(best: _*) && greatest(best: _*) > 0, lit(l)).otherwise(els)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("lang_pred"),
        col("score_en"), col("score_es"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix — the eval every classifier in the
    * curation stack owes its users: predicted vs labeled language cell
    * counts, straight off [[langId]]'s per-doc output (one aggregation
    * over the scored scan; the matrix is |langs|², metadata-sized at any
    * corpus scale). Off-diagonal mass localizes WHERE the n-gram
    * heuristic fails instead of hiding it in one accuracy number.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation), the standard cheap
    * proxy for LLM token counts.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: polynomial rolling hash over char codes,
    * acc ← (acc·31 + code) mod 1e9+7 — a sequential left fold, bit-exact
    * reproducible in any engine (the DuckDB oracle mirrors it with
    * list_reduce).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        aggregate(transform(split(col("text"), ""), c => ascii(c).cast("long")),
          lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L).as("fp"))
      .orderBy(col("doc_id"))

  /** The composite corpus-cleaning pipeline — what a training-data prep
    * job actually runs, composed from the engine's own operators:
    * quality gate (length + stopword-ratio heuristics) → exact-dup
    * removal (keep lowest doc_id per distinct text) → language
    * consistency (declared lang == n-gram-heuristic prediction, unknowns
    * dropped). Scan-bound except the dedup shuffle; every stage prunes
    * before the next.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val lex: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "la", "de", "que"),
      "de" -> Seq("der", "die", "und", "das"),
      "fr" -> Seq("le", "la", "et", "les"),
      "zh" -> Seq("的", "了", "是", "在"))
    val d = Tables.documents(spark, dir).withColumn("ws", words(col("text")))
      .withColumn("n_words", size(col("ws")))
      .withColumn("n_stop", size(filter(col("ws"),
        w => w.isin(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*))))
    val quality = d.filter(col("n_words") >= 5 &&
      col("n_stop").cast("double") / col("n_words").cast("double") < lit(0.5))
    // The lang marker scores are computed BEFORE the dedup shuffle (all rows
    // of a group share the text, hence the scores), so the group-by can key
    // on `xxhash64(text)` and carry only small integers — at corpus scale
    // the exchange moves 8-byte keys + a few longs instead of every document
    // byte. min over the struct = keep the lowest-doc_id row's attributes —
    // deterministic, unlike first() under shuffled grouping. The md5 witness
    // turns an (astronomically unlikely) xxhash64 collision between distinct
    // texts into a loud failure rather than a silent merge.
    val withScores = lex.foldLeft(quality) { case (df, (l, ms)) =>
      df.withColumn(s"score_$l", size(filter(col("ws"), w => w.isin(ms.map(lit): _*))))
    }
    val survivors = withScores
      .select(xxhash64(col("text")).as("h"), md5(col("text")).as("w128"),
        struct(col("doc_id") +: col("lang") +: col("n_words") +:
          lex.map { case (l, _) => col(s"score_$l") }: _*).as("payload"))
      .groupBy(col("h"))
      .agg(min(col("payload")).as("kept"),
        min(col("w128")).as("w_lo"), max(col("w128")).as("w_hi"))
      .filter(assert_true(col("w_lo") === col("w_hi"),
        lit("xxhash64 collision in cleanCorpus — distinct texts in one group")).isNull)
      .select(col("kept.*"))
    val best = lex.map(_._1).map(l => col(s"score_$l"))
    val pred = lex.map(_._1).foldRight(lit("unk"): org.apache.spark.sql.Column) {
      case (l, els) =>
        when(col(s"score_$l") === greatest(best: _*) && greatest(best: _*) > 0, lit(l)).otherwise(els)
    }
    survivors.withColumn("lang_pred", pred)
      .filter(col("lang_pred") === col("lang"))
      .select(col("doc_id"), col("lang"), col("n_words").cast("long").as("n_words"))
      .orderBy(col("doc_id"))
  }

  /** Positional-index phrase search — exact multi-word phrase matching the
    * way an inverted index with positions does it (the retrieval-side
    * complement of [[bm25]]'s bag-of-words scoring): one term-position
    * posting list, one leg per phrase term selecting that term's postings
    * with the position shifted back by its offset, then an equi-join on
    * (doc_id, anchor): a row survives every join exactly where all terms
    * align consecutively.
    *
    * Scale shape: each leg filters to ONE term before any join — the
    * joined relations are term posting lists (corpus-frequency-sized, not
    * corpus-sized) and the joins are equi on (doc_id, position), so the
    * shuffle is bounded by the rarest term's postings after the first
    * join. No regex scan of full documents, no cartesian.
    */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: Seq[String] = Seq("table", "value")): DataFrame = {
    require(phrase.nonEmpty)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .toDF("doc_id", "pos", "w")
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      toks.filter(col("w") === lit(t))
        .select(col("doc_id"), (col("pos") - lit(i)).as("p0"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("p0")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end curation pipeline — the composite a training-data refresh
    * actually runs, as ONE declarative plan: quality gate (length +
    * stopword-ratio, the [[cleanCorpus]] rule) → exact dedup keep-first →
    * per-source cap (boilerplate-domain guard) → curated-corpus manifest
    * per (lang, source). The point over the individual operators is
    * COMPOSITION: no intermediate materialization, one Catalyst plan end
    * to end, so the optimizer prunes columns across stage boundaries and
    * the only corpus-sized exchanges are the dedup group (8-byte hash
    * keys + small payload struct, md5 witness as in [[cleanCorpus]]) and
    * the per-source cap window (WindowGroupLimit bounds it map-side).
    */
  def curatePipeline(spark: SparkSession, dir: String,
                     perSourceCap: Int = 15): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("ws", words(col("text")))
      .withColumn("n_words", size(col("ws")))
      .withColumn("n_stop", size(filter(col("ws"),
        w => w.isin(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*))))
    val quality = d.filter(col("n_words") >= 5 &&
      col("n_stop").cast("double") / col("n_words").cast("double") < lit(0.5))
    val survivors = quality
      .select(xxhash64(col("text")).as("h"), md5(col("text")).as("w128"),
        struct(col("doc_id"), col("lang"), col("source"), col("n_words")).as("payload"))
      .groupBy(col("h"))
      .agg(min(col("payload")).as("kept"),
        min(col("w128")).as("w_lo"), max(col("w128")).as("w_hi"))
      .filter(assert_true(col("w_lo") === col("w_hi"),
        lit("xxhash64 collision in curatePipeline — distinct texts in one group")).isNull)
      .select(col("kept.*"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    survivors.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perSourceCap)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).cast("long").as("n_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  /** Benchmark decontamination (the Gopher/C4 rule: drop training docs that
    * overlap an evaluation set on any long n-gram; production filters use
    * 8–13-grams, this corpus's short synthetic docs overlap at 4). The
    * "benchmark" is the deterministic held-out subset doc_id % 97 == 0; a
    * training doc is flagged with the count of distinct k-grams it shares
    * with ANY eval doc.
    *
    * Scale shape: eval suites are tiny next to a 100 TB corpus, so the
    * distinct eval-gram set is broadcast and the corpus side is one
    * scan+explode — no shuffle of training data, flag counts map-combined.
    */
  def decontaminate(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.Grams.kgrams(col("ws"), k))).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "gram")
      // grams are already distinct per doc, so count == distinct shared
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM "perplexity" proxy for quality filtering: each token scores
    * its global corpus frequency as micros — (c·10⁶) DIV total — and a doc's
    * commonness is the integer mean of its token scores. Rare-token-heavy
    * (low-commonness) docs are what perplexity filters drop. Pure BIGINT
    * arithmetic end to end: the per-token DIV bounds every intermediate
    * (c ≤ total ⇒ c·10⁶ < 2⁶³ for any real corpus; Σ micros ≤ n·10⁶), so the
    * score is fold-order-free and replays exactly in any engine.
    * Shape: two map-combined aggregations + an equi-join on the token (the
    * natural key; AQE covers stop-word skew).
    */
  def commonness(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val cnt = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(cnt, "w").crossJoin(broadcast(total))
      .select(col("doc_id"), expr("c * 1000000 DIV total").as("m"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("m")).as("sm"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sm DIV n_tokens").as("common_micro"))
      .orderBy(col("doc_id"))
  }

  /** Conditional bigram-LM fluency score — the full LM-filtering step that
    * [[commonness]] proxies (CCNet-style: score each document under a
    * language model trained on the corpus itself; public knowledge — Wenzek
    * et al. 2020, Jurafsky & Martin ch. 3). Each bigram (a,b) scores its
    * add-one-smoothed conditional probability P(b|a) = (C(ab)+1)/(C(a·)+V)
    * in integer micros, and a doc's fluency is the integer mean of its
    * bigram scores — low = improbable token transitions (gibberish,
    * boilerplate tables, OCR noise), the docs an LM filter drops. Pure
    * BIGINT end to end like its sibling, so the score replays exactly in
    * any engine; docs with <2 tokens have no bigrams and no row.
    * Shape: one bigram explode feeding three map-combined aggregations
    * (bigram counts, prefix counts, vocab size) and two equi-joins on the
    * natural keys; the vocab scalar broadcasts. At corpus scale the bigram
    * count table is the big side — it shuffles on the bigram string once,
    * exactly the ngram-index shape AQE already handles for dedup; a real
    * deployment would swap countDistinct(w) for approx_count_distinct (V
    * only smooths — the oracle needs the exact fold).
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
    val bg = docs.select(col("doc_id"),
      explode(graft.functions.Grams.kgrams(col("ws"), 2)).as("bg"))
    val bigramCnt = bg.groupBy(col("bg")).agg(count(lit(1)).as("cab"))
    // Prefix = the bigram's first token (tokens never contain the space
    // separator, so substring_index is exact); C(a·) = occurrences of a as
    // a bigram prefix, i.e. the conditional denominator before smoothing.
    val prefixCnt = bg.select(substring_index(col("bg"), " ", 1).as("pfx"))
      .groupBy(col("pfx")).agg(count(lit(1)).as("ca"))
    val vocab = docs.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bg.join(bigramCnt, "bg")
      .withColumn("pfx", substring_index(col("bg"), " ", 1))
      .join(prefixCnt, "pfx")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), expr("(cab + 1) * 1000000 DIV (ca + v)").as("m"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("m")).as("sm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sm DIV n_bigrams").as("lm_micro"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals — the "excessive repetition" family of
    * pretraining quality filters (duplicate-word fraction and most-frequent-
    * bigram fraction; production filters threshold these to drop template
    * spam and boilerplate). Entirely scan-bound: the bigram mode is NOT an
    * explode + groupBy (that shuffles every bigram of every doc) but a
    * per-row sorted-run-length fold — after `array_sort`, the count of the
    * most frequent element IS the longest equal run, computed by one
    * `aggregate` pass over the row's own array. Fractions are integer
    * micros (x·10⁶ DIV n), fold-order-free and oracle-exact.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    // Longest equal run in the sorted bigram array = max bigram frequency.
    // Bigrams are never '' (they contain a space), so '' is a safe init.
    val topRun = expr(
      """aggregate(
        |  array_sort(bs),
        |  named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
        |  (acc, x) -> named_struct(
        |    'prev', x,
        |    'run', IF(x = acc.prev, acc.run + 1L, 1L),
        |    'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))),
        |  acc -> acc.best)""".stripMargin)
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("bs", graft.functions.Grams.kgrams(col("ws"), 2))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        size(col("bs")).cast("long").as("n_bigrams"),
        topRun.as("top_bigram_n"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        expr("(n_words - n_distinct) * 1000000 DIV n_words").as("dup_word_micro"),
        col("n_bigrams"), col("top_bigram_n"),
        when(col("n_bigrams") > 0, expr("top_bigram_n * 1000000 DIV n_bigrams"))
          .otherwise(lit(0L)).as("top_bigram_micro"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window document chunking — the RAG/embedding prep step that
    * turns documents into overlapping fixed-size passages (`width` words
    * every `stride`, trailing partial chunks kept). One generated-column
    * projection + posexplode per row: chunk starts are `sequence(0, n−1,
    * stride)` and each chunk is a `slice` — no shuffle anywhere except the
    * presentation sort, and chunk identity (doc_id, chunk_idx) is
    * deterministic, so re-chunking a grown corpus never renumbers existing
    * chunks (the property an incremental embedding index needs).
    */
  def chunk(spark: SparkSession, dir: String, width: Int = 40, stride: Int = 30): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)), lit(stride)),
          st => slice(col("ws"), st + 1, lit(width)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_words"),
        array_join(col("col"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** BM25 document ranking for a term query — the lexical-retrieval scoring
    * half of a RAG stack (the dense half is the kNN family). Okapi BM25
    * with k1 = 1, b = 0.75 and the LINEAR idf = N/df (same rationale as
    * [[tfIdf]]: no libm, so the doubles replay bit-identically in any
    * engine; k1 = 1 keeps every constant exactly representable). Per-term
    * partial scores are floored to integer micros BEFORE the per-doc sum,
    * so the reduction is fold-order-free.
    *
    * Scale shape: the explode prunes to the query's terms immediately
    * (map-side), df and corpus stats are broadcast, and the final top-k is
    * orderBy+limit ⇒ TakeOrderedAndProject — no global window; the rank
    * column is numbered AFTER the limit, over topK rows only.
    */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = Seq("vector", "spark", "stream"),
           topK: Int = 20): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), words(col("text")).as("ws"))
    val lens = d.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val corpus = broadcast(lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_words")))
    // Prune INSIDE the row before exploding (duplicate-preserving HOF
    // filter, not array_intersect which dedups): the generate emits only
    // the query's term hits instead of every corpus token.
    val tf = d.select(col("doc_id"),
        explode(filter(col("ws"), w => w.isin(terms.map(lit): _*))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = col("n_docs").cast("double")
    val scoreD = (nd / col("df").cast("double")) *
      (col("tf").cast("double") * lit(2.0)) /
      (col("tf").cast("double") + (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / (col("total_words").cast("double") / nd))))
    val top = tf.join(broadcast(df), "term").join(lens, "doc_id").crossJoin(corpus)
      .withColumn("score_micro", micro(scoreD))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro")).as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
      .orderBy(col("rank"))
  }

  /** Dataset-card summary over the cleaned corpus: docs + token volume per
    * language.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    cleanCorpus(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("total_words"))
      .orderBy(col("lang"))

  /** Vocabulary report — the tokenizer-prep census: top-N words by corpus
    * frequency with per-word mass share and cumulative coverage (both
    * integer micros). The last row's cumulative share IS the coverage of an
    * N-word vocab; 10⁶ minus it is the OOV mass a tokenizer trained on this
    * vocab would shatter. Shape: one map-combined count aggregation + a
    * TakeOrderedAndProject top-N; rank and the running coverage sum are
    * windows over the ALREADY-limited N rows, never the full vocabulary.
    */
  def vocabReport(spark: SparkSession, dir: String, topN: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
    val total = broadcast(toks.agg(count(lit(1)).as("total")))
    val top = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .crossJoin(total)
      .orderBy(col("n").desc, col("word"))
      .limit(topN)
    val wRank = Window.orderBy(col("n").desc, col("word"))
    top
      .withColumn("share_micro", expr("n * 1000000 DIV total"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cum_share_micro",
        sum(col("share_micro")).over(
          wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("word"), col("n"), col("share_micro"), col("cum_share_micro"))
      .orderBy(col("rank"))
  }

  /** Heaps'-law vocabulary-growth curve: token mass and cumulative
    * vocabulary at nested corpus fractions (deterministic hash-bucket
    * quarters) — the measurement behind every "does this text-keyed
    * shuffle stay sub-linear?" judgement (SHUFFLE.md's flag attribution
    * rests on exactly this curve: the synthetic corpus's bounded
    * vocabulary is what makes per-shingle density grow, where a Heaps
    * corpus grows vocabulary and keeps per-key density bounded).
    *
    * One explode pass; a word contributes to the q-th point iff its MIN
    * bucket ≤ q (first-appearance semantics), so the whole curve is two
    * map-combined aggregates — (word → min bucket) and (bucket → token
    * count) — cumulated over `buckets` rows. Never a per-fraction rescan.
    */
  def heapsCurve(spark: SparkSession, dir: String, buckets: Int = 4): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .withColumn("b",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":heaps"))), 1, 6),
          16, 10).cast("long") % buckets)
    val firstSeen = toks.groupBy(col("word")).agg(min(col("b")).as("minb"))
      .groupBy(col("minb").as("b")).agg(count(lit(1)).as("new_words"))
    val tokensPerB = toks.groupBy(col("b")).agg(count(lit(1)).as("n_tokens"))
    val w = Window.partitionBy(lit(1)).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensPerB.join(firstSeen, Seq("b"), "left")
      .withColumn("nw", coalesce(col("new_words"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("nw")).over(w))
      .select(col("b").as("fraction_bucket"), col("cum_tokens"), col("cum_vocab"))
      .orderBy(col("fraction_bucket"))
  }

  /** Corpus-level word-bigram frequency, top-20: the explode → count →
    * top-N shape (the heavy-shuffle text aggregation; partial aggregation
    * makes it map-combined at scale).
    */
  def bigramTop(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("ws", words(col("text")))
    val bigrams = d.select(explode(graft.functions.Grams.kgrams(col("ws"), 2)).as("bigram"))
    bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Corpus NOVELTY decay — how fast new data stops bringing new content:
    * attribute every distinct 3-gram to its FIRST document (min doc_id),
    * then report, per doc_id decile, what share of gram occurrences are
    * first-seen there. A fresh crawl shows a flat curve; a saturated or
    * self-duplicating one decays toward zero — the collection-level
    * signal that more of the same source is no longer worth ingesting
    * (the diminishing-returns curve behind data-mixing decisions).
    *
    * Scale shape: one shingle pass, a gram-keyed min aggregate
    * (map-combined), a join back on the gram key, a 1-row broadcast
    * max-id cross for the decile rule, a 10-row output.
    */
  def noveltyDecay(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.operators.Dedup.shingles(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("sh")).as("g"))
    // ONE exchange on the gram key: the whole-partition window computes
    // each occurrence's first_doc in the same shuffle that used to be the
    // groupBy leg, and the old join leg (a second corpus-sized exchange
    // PLUS a second run of the shingle explode — `sh` was referenced
    // twice, lazily) disappears. Values are identical: min over the full
    // unordered window frame == the groupBy min joined back.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val mx = broadcast(Tables.documents(spark, dir).agg(max(col("doc_id")).as("mx")))
    sh.withColumn("first_doc", min(col("doc_id")).over(wg))
      .crossJoin(mx)
      .withColumn("decile", least(lit(9L), expr("doc_id * 10 DIV (mx + 1)")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_permille", expr("n_novel * 1000 DIV n_grams"))
      .orderBy(col("decile"))
  }

  /** Quality-dial TOKEN BUDGET curve — what each candidate quality cut
    * would cost in training tokens: docs and tokens surviving every τ at
    * once, priced from ONE pass over the per-doc quality stats (the
    * [[qualityGate]] score, micro-quantized) via conditional sums — the
    * same one-pass-dial trick as dedup's threshold curve. The number a
    * data lead reads before choosing τ: quality floors buy cleanliness
    * with tokens, and this table is the exchange rate.
    */
  def qualityBudgetCurve(spark: SparkSession, dir: String,
                         taus: Seq[Long] = Seq(600000L, 700000L, 750000L,
                           800000L, 850000L)): DataFrame = {
    val s = qualityStats(spark, dir)
      .withColumn("sm", graft.functions.VectorFunctions.micro(col("score")))
    val agg = s.agg(
      taus.map(t => sum(when(col("sm") >= t, 1L).otherwise(0L)).as(s"d$t")).head,
      (taus.tail.map(t => sum(when(col("sm") >= t, 1L).otherwise(0L)).as(s"d$t")) ++
        taus.map(t => sum(when(col("sm") >= t, col("nw")).otherwise(0L)).as(s"k$t"))): _*)
    val stackSql = s"stack(${taus.length}, " +
      taus.map(t => s"${t}L, d$t, k$t").mkString(", ") +
      ") as (tau_micro, n_docs_kept, tokens_kept)"
    agg.select(expr(stackSql)).orderBy(col("tau_micro"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * keyword miner a curation pipeline runs to label corpus slices:
    * candidate phrases are maximal stopword-free runs (gaps-and-islands
    * over the token stream — the stopword positions ARE the gaps), each
    * word scores degree/frequency over the candidate table (degree = Σ
    * length of phrases containing it — co-occurrence reach; frequency =
    * its candidate occurrences), a phrase scores the sum of its words'
    * scores. All in exact integers: `word_score = degree·10⁶ DIV freq`,
    * phrase scores are sums of those micros — no libm, oracle-exact.
    *
    * Scale shape: one tokenize pass; islands via a per-doc running sum
    * (token ordering stays inside its document); the word-stats table is
    * vocab-sized and joins back on the word key; identical phrases
    * collapse in one hash aggregate; top-K is TakeOrderedAndProject.
    */
  def keyphrases(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("is_stop", col("w").isin(stop.map(lit): _*) || col("w") === "")
    val wrun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = toks
      .withColumn("grp", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wrun))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("grp"), col("pos"), col("w"))
      // one tokenize pass shared by the three consumers below — EAGER: the
      // withLen join's two legs (cand, phrases-from-cand) are concurrent
      // stages and would race a lazy barrier
      .localCheckpoint()
    val phrases = cand.groupBy(col("doc_id"), col("grp"))
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("w")))),
          x => x("w")), " ").as("phrase"),
        count(lit(1)).as("plen"))
    val withLen = cand.join(phrases.select(col("doc_id"), col("grp"), col("plen")),
      Seq("doc_id", "grp"))
    val wordStats = withLen.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("word_score", expr("degree * 1000000 DIV freq"))
    val scores = withLen.join(wordStats.select(col("w"), col("word_score")), Seq("w"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("word_score")).as("score_micro"))
    phrases.join(scores, Seq("doc_id", "grp"))
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("n_words"), count(lit(1)).as("n_occurrences"),
        max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
  }

  /** Collocation mining by LIFT — the association score behind phrase /
    * tokenizer-merge candidate lists: lift(a,b) = p(ab) / (p(a)·p(b)),
    * which ranks identically to PMI (its log) but stays in exact integer
    * arithmetic — `lift_micro = c_ab·N·10⁶ ÷ (c_a·c_b)` with the product
    * widened to DECIMAL(38,0) (the corpus_budget precedent: at 100 TB
    * token masses the BIGINT product would overflow; HUGEINT on the
    * oracle side). A raw-frequency top list ([[bigramTop]]) surfaces
    * "of the"; lift surfaces pairs that co-occur far above chance, which
    * is what a phrase vocabulary actually wants.
    *
    * Scale shape: two map-combined count aggregates (unigrams, bigrams)
    * over one tokenize pass each; the unigram table joins in twice on the
    * bigram's two words (vocab-sized — broadcast at any realistic vocab);
    * min-count prunes the bigram tail BEFORE the joins; final top-K is
    * TakeOrderedAndProject, never a global sort.
    */
  def phraseLift(spark: SparkSession, dir: String,
                 minCount: Int = 5, topK: Int = 50): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("ws", words(col("text")))
    val uni = d.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nWords = broadcast(uni.agg(sum(col("c")).as("n_words")))
    val bi = d.select(explode(graft.functions.Grams.kgrams(col("ws"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("wa", split(col("bigram"), " ").getItem(0))
      .withColumn("wb", split(col("bigram"), " ").getItem(1))
    bi.join(broadcast(uni.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
      .join(broadcast(uni.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
      .crossJoin(nWords)
      .withColumn("lift_micro",
        expr("(CAST(c_ab AS DECIMAL(38,0)) * n_words * 1000000) DIV (c_a * c_b)").cast("long"))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"), col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("bigram"))
      .limit(topK)
  }

  /** TF-IDF top terms per document — the classic relevance weighting, as
    * the pure relational pipeline it is at scale: explode → (doc, term)
    * counts → document frequency → score → per-doc rank-limit window
    * (WindowGroupLimit). Both aggregations are map-combined; the df join
    * shuffles on term (the natural key).
    *
    * The idf factor is the LINEAR variant idf = N/df, fixed-point-scaled
    * into pure BIGINT arithmetic (`score = tf·10⁶·N ÷ df`, integer
    * division) — rank-equivalent to tf·(N/df) and bit-identical in any
    * engine, where a log-idf's last ulp is libm-dependent and would make
    * the oracle hash flaky.
    */
  def tfIdf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
    val terms = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // The doc selection (every 20th doc) is applied on the tf side BEFORE
    // the df join and the rank window: df must stay corpus-wide (idf is a
    // global statistic), but only the selected docs' terms need to flow
    // through the join + window shuffle — 1/20th of the rows, same result.
    val tfSel = tf.filter(col("doc_id") % 20 === 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tfSel.join(df, "term").crossJoin(nDocs)
      .withColumn("score", expr("CAST(tf * 1000000 * n_docs DIV df AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Discriminative quality gate: a composite score of length,
    * type-token ratio (lexical diversity), and repetition (max single-token
    * frequency) — the components real pretraining filters weight (C4/Gopher
    * rules) — that actually DROPS ~45% of this corpus at the 0.75 default,
    * unlike the permissive stopword gate in [[cleanCorpus]].
    *
    * All three per-doc stats come from ONE explode + two map-combined
    * aggregations: total tokens = Σ counts, distinct = #groups, max
    * frequency = max count — O(words) per document. (The obvious HOF form
    * `array_max(transform(dws, tk → count of tk in ws))` is O(distinct ×
    * words) per row, and Catalyst's filter-pushdown duplicates the whole
    * composite expression — measured 33 s vs <1 s at sf0.1.)
    */
  def qualityGate(spark: SparkSession, dir: String, threshold: Double = 0.75): DataFrame =
    qualityStats(spark, dir)
      .filter(col("score") >= threshold)
      .select(col("doc_id"), col("nw").cast("long").as("n_words"),
        col("nd").cast("long").as("n_distinct"), col("mf").cast("long").as("max_tok"),
        graft.functions.VectorFunctions.micro(col("score")).as("score_micro"))
      .orderBy(col("doc_id"))

  /** BPE pair-merge rounds — the tokenizer-training step after
    * [[vocabReport]] (Sennrich et al. 2016): start from the word-frequency
    * table segmented into characters, then repeatedly (1) count adjacent
    * symbol pairs weighted by word frequency, (2) pick the most frequent
    * pair (ties broken lexicographically), (3) merge every non-overlapping
    * occurrence greedily left-to-right. Returns one audit row per round:
    * the chosen pair, its count, how many sites merged (unweighted and
    * frequency-weighted), and the post-merge census (distinct symbols,
    * total positions, weighted character mass — the mass is invariant
    * across rounds, the conservation law the spec pins).
    *
    * Scale shape: the corpus-sized work is ONE map-combined word count;
    * every merge round then operates on the bounded type table (topWords
    * word types ≈ a few thousand (word,pos) rows regardless of corpus
    * size — the classic BPE-trainer trick of training on types × counts,
    * not tokens). Each round is two small windows over that bounded table
    * plus a 1-row broadcast argmax. Like every iterative algorithm on
    * Spark (cf. graphPagerank's edge checkpoint), each round's
    * segmentation is localCheckpoint'ed: round r's plan references round
    * r−1 from BOTH the argmax and the re-segment branch, so an unbroken
    * lineage doubles per round (2ᴺ plan nodes, minutes of planning/codegen
    * for bounded-kilobyte data); breaking it keeps every round's plan
    * shallow and the whole train O(N) tiny jobs.
    *
    * Everything is integer arithmetic and string equality, so the DuckDB
    * oracle replays the unrolled rounds as CTEs bit-identically. Greedy
    * left-to-right non-overlap is implemented relationally: candidate
    * sites (sym=left ∧ next=right) form runs only when left=right, and
    * within a run of consecutive candidates exactly the even offsets merge
    * — the gaps-and-islands parity rule, identical in both engines.
    * Segmentation uses substring (code-point based in both Spark's
    * UTF8String and DuckDB), never an empty-regex split (UTF-16 code-unit
    * based in Java — astral chars would desynchronize the engines).
    */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 4,
                topWords: Int = 300): DataFrame = {
    import spark.implicits._
    // BOUNDED collect (≤ topWords rows by construction — the train table
    // is the classic types × counts trick, never the corpus): the train
    // loop over it is pure bounded driver metadata work, the same contract
    // as unigramLmFit's broadcast-inventory EM loop. The previous
    // relational train (two windows + a 1-row argmax + a checkpoint per
    // round over a ~2000-row table) paid ~48 tiny Spark jobs ≈ 3 s of pure
    // scheduling per call at bench config; the corpus-sized work — the ONE
    // map-combined word census inside bpeTrainTypes — is unchanged and
    // stays distributed.
    val types = bpeTrainTypes(spark, dir, topWords).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    bpeTrainDriver(types, rounds)
      .toDF("merge_round", "left_sym", "right_sym", "pair_count",
        "merge_sites", "merged_mass", "vocab_size", "n_positions",
        "char_mass")
      .orderBy(col("merge_round"))
  }

  /** Code-point comparison — Spark and DuckDB order strings by UTF-8
    * binary bytes, which is code-POINT order; Java's `compareTo` is
    * UTF-16 code-UNIT order and diverges for supplementary characters
    * (a char ≥ U+10000 must sort ABOVE U+E000..U+FFFF).
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Code-point segmentation — `substring` is code-point based in both
    * engines, so the driver twin must split surrogate pairs as ONE symbol.
    */
  private def cpChars(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n); i += n
    }
    out.toArray
  }

  /** One greedy left-to-right non-overlapping merge pass — the scan form
    * of the relational gaps-and-islands parity rule (within a run of
    * consecutive candidate sites exactly the 1st, 3rd, … merge, which is
    * precisely what a left-to-right scan that consumes both symbols does).
    */
  private def bpeApplyRound(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-side BPE train over the bounded type table: per round, the
    * frequency-weighted pair argmax (count desc, then lexicographic by
    * code point — the engines' UTF-8 binary collation), the greedy
    * non-overlap merge, and the audit row [[bpeMerges]] reports. If a
    * round has no adjacent pair left, that round and every later one
    * contribute no row AND the segmentation empties — replaying the
    * relational form, where the empty 1-row argmax cross-joined the
    * segmentation away.
    */
  private[graft] def bpeTrainDriver(types: Array[(String, Long)], rounds: Int)
      : Seq[(Long, String, String, Long, Long, Long, Long, Long, Long)] = {
    var seg: Array[(Array[String], Long)] =
      types.map { case (w, n) => (cpChars(w), n) }
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long, Long, Long, Long, Long, Long)]
    var r = 1
    while (r <= rounds) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- seg) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (pc.isEmpty) { seg = Array.empty; r = rounds + 1 }
      else {
        val ((l, rt), cnt) = pc.reduce { (a, b) =>
          val cmp =
            if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
            else {
              val c1 = cpCompare(a._1._1, b._1._1)
              if (c1 != 0) c1 else cpCompare(a._1._2, b._1._2)
            }
          if (cmp <= 0) a else b
        }
        var mergeSites = 0L; var mergedMass = 0L
        seg = seg.map { case (syms, n) =>
          val out = bpeApplyRound(syms, l, rt)
          val sites = syms.length - out.length
          mergeSites += sites; mergedMass += sites * n
          (out, n)
        }
        val vocab = scala.collection.mutable.HashSet.empty[String]
        var nPositions = 0L; var charMass = 0L
        for ((syms, n) <- seg; s <- syms) {
          vocab += s; nPositions += 1
          charMass += n * s.codePointCount(0, s.length)
        }
        rows += ((r.toLong, l, rt, cnt, mergeSites, mergedMass,
          vocab.size.toLong, nPositions, charMass))
        r += 1
      }
    }
    rows.toSeq
  }

  /** Tokenize the corpus with the merges [[bpeMerges]] learns — the apply
    * half of the BPE story (train on types, encode everything). The merge
    * sequence is re-derived lazily from the train table (each round's
    * 1-row argmax broadcasts), then applied round-by-round to the FULL
    * distinct word-type table — merges fire wherever the learned pair
    * occurs, including in words the bounded train set never saw. Per-doc
    * token counts come from joining the per-type token count back to the
    * corpus on the word key (shuffle sized to the vocabulary, never to
    * positions × corpus). Output per doc: words, chars, BPE tokens, and
    * the saved-position fraction in integer micros (how much of the
    * char-level sequence length the learned vocab recovers — the
    * token-budget planner's input).
    */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = 4,
                topWords: Int = 300): DataFrame = {
    // Merges re-derived from the bounded train table driver-side (see
    // bpeMerges — same bounded-collect contract, same audit trail), then
    // applied to the FULL word-type table as ONE map-side pass: the
    // learned pairs are a ≤rounds-entry broadcast constant and greedy
    // non-overlap merging is a per-word scan, so the previous per-round
    // window + crossJoin + checkpoint chain over the corpus-wide type
    // table (4 extra distributed rounds ≈ 1.5 s of job scheduling per
    // call) collapses into the tokenize projection. Shuffles: the type
    // census and the per-doc aggregate — both vocabulary-sized, exactly
    // as before.
    val types = bpeTrainTypes(spark, dir, topWords).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val trainRows = bpeTrainDriver(types, rounds)
    val merges: Seq[(String, String)] = trainRows.map(t => (t._2, t._3))
    val bc = spark.sparkContext.broadcast(merges)
    val nTokensUdf = udf((w: String) => {
      var syms = cpChars(w)
      bc.value.foreach { case (l, r) => syms = bpeApplyRound(syms, l, r) }
      syms.length.toLong
    })
    val allTypes = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // Relational replay of the degenerate corpus: a round with no pair
    // left cross-joined the old encode segmentation empty, emptying the
    // output — keep that contract when the train truncated early.
    val tok0 = allTypes.select(col("word"), nTokensUdf(col("word")).as("n_tokens"))
    val tok = if (trainRows.size < rounds) tok0.where(lit(false)) else tok0
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(tok, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("saved_micro",
        expr("(n_chars - n_tokens) * 1000000 DIV n_chars"))
      .select(col("doc_id").cast("long").as("doc_id"), col("n_words"),
        col("n_chars"), col("n_tokens"), col("saved_micro"))
      .orderBy(col("doc_id"))
  }

  /** Bounded BPE train set: top word types by corpus frequency (1-char
    * types carry no pairs and are excluded).
    */
  /** Deterministic integer Viterbi segmentation under the current piece
    * inventory: maximize Σ count(piece) − |pieces|·`big`, i.e. FEWEST
    * pieces first (big dominates any achievable count sum), then highest
    * total piece frequency — the unigram-LM objective with the one
    * fractional step (log-probabilities) replaced by an exactly-integer
    * rank-equivalent, so both engines replay the same segmentation bit
    * for bit (the orders_pareto/text_lm_score no-libm convention).
    * Backward reconstruction prefers the LONGEST piece achieving the
    * optimum (ties fully specified — the oracle's CASE cascade tries
    * l = max..1). Single-character pieces are always in the inventory,
    * so a segmentation always exists.
    */
  private[graft] def viterbiPieces(w: String, cnt: collection.Map[String, Long],
                                   maxPieceLen: Int, big: Long): List[String] = {
    val L = w.length
    val dp = Array.fill(L + 1)(Long.MinValue / 4)
    dp(0) = 0L
    var j = 1
    while (j <= L) {
      var l = 1
      while (l <= math.min(maxPieceLen, j)) {
        cnt.get(w.substring(j - l, j)) match {
          case Some(c) =>
            val v = dp(j - l) + c - big
            if (v > dp(j)) dp(j) = v
          case None =>
        }
        l += 1
      }
      j += 1
    }
    var out = List.empty[String]
    j = L
    while (j > 0) {
      var chosen = -1
      var l = math.min(maxPieceLen, j)
      while (chosen < 0 && l >= 1) {
        cnt.get(w.substring(j - l, j)) match {
          case Some(c) if dp(j - l) + c - big == dp(j) => chosen = l
          case _ => l -= 1
        }
      }
      out = w.substring(j - chosen, j) :: out
      j -= chosen
    }
    out
  }

  /** Maximum piece length of the PUBLIC unigram-LM query path. Pinned as a
    * constant (not a `unigramLm` parameter) because the DuckDB oracle's
    * recursive-CTE Viterbi replay hardcodes this width structurally — a
    * 4-slot DP carry (b0..b3) and 4 substring join legs (q1..q4) per round
    * — so a caller-supplied different length would silently diverge from
    * the replay. `OracleSql.unigramLmSql` require()s this value so a
    * future change fails loudly at query-registration time instead.
    * The private [[unigramLmFit]] keeps the parameter for specs.
    */
  private[graft] val UnigramMaxPieceLen: Int = 4

  /** Shared trainer core of [[unigramLm]] — returns the bounded train-type
    * table and the final round's piece-usage census (spec entry point for
    * the conservation and determinism laws).
    */
  private[graft] def unigramLmFit(spark: SparkSession, dir: String,
                                  rounds: Int, topWords: Int, maxPieceLen: Int)
      : (Array[(String, Long)], Array[(String, Long)]) = {
    import spark.implicits._
    val big = 1000000000000L
    val typesDs = bpeTrainTypes(spark, dir, topWords)
      .localCheckpoint(eager = false).as[(String, Long)]
    // seed inventory: weighted substring census (≤ types × len × maxPieceLen
    // rows — bounded by the train table, never the corpus)
    val seed: Map[String, Long] = typesDs.flatMap { case (w, n) =>
        for {
          s <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - s)
        } yield (w.substring(s, s + l), n)
      }.toDF("piece", "u").groupBy("piece").agg(sum(col("u")).as("cnt"))
      .as[(String, Long)].collect().toMap
    val charInv: Set[String] = seed.keySet.filter(_.length == 1)
    var cnts = seed
    var lastUsage: Array[(String, Long)] = Array.empty
    for (_ <- 1 to rounds) {
      val bc = spark.sparkContext.broadcast(cnts)
      // E-step on executors: Viterbi per type under the broadcast inventory;
      // M-step: one map-combined usage aggregate. Only the bounded piece
      // census crosses to the driver (the kmeans ≤nlist-partials contract).
      val usage = typesDs.flatMap { case (w, n) =>
          viterbiPieces(w, bc.value, maxPieceLen, big).map(p => (p, n))
        }.toDF("piece", "u").groupBy("piece").agg(sum(col("u")).as("usage"))
        .as[(String, Long)].collect()
      val u = usage.toMap
      // pieces the corpus stopped using are pruned; single characters keep
      // a floor count of 1 so a segmentation always exists next round
      cnts = u ++ charInv.iterator.filterNot(u.contains).map(_ -> 1L)
      lastUsage = usage
    }
    (typesDs.collect(), lastUsage)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer — the EM sibling
    * of [[bpeMerges]] (Kudo 2018, public knowledge): start from a
    * substring-census piece inventory over the bounded word-type table,
    * then alternate (E) Viterbi-segment every type under the current
    * piece scores and (M) re-estimate each piece's score from its usage,
    * pruning pieces the corpus stopped using. Where SentencePiece scores
    * segmentations by Σ log p(piece), this trainer uses the exactly
    * rank-equivalent integer objective (fewest pieces, then highest total
    * piece frequency — [[viterbiPieces]]), so all `rounds` unrolled EM
    * rounds replay bit-identically in the DuckDB oracle (forward DP and
    * backward walk as recursive CTEs).
    *
    * Scale shape: the corpus-sized work is the ONE tokenize pass behind
    * the type census ([[bpeMerges]]' trick — train on types × counts,
    * never tokens); each EM round is a mapPartitions Viterbi over the
    * bounded type table under a broadcast inventory plus one map-combined
    * usage aggregate; only the ≤|inventory|-row census visits the driver.
    * Output: the final round's top-`topK` pieces by usage.
    */
  def unigramLm(spark: SparkSession, dir: String, rounds: Int = 3,
                topWords: Int = 300,
                topK: Int = 50): DataFrame = {
    import spark.implicits._
    val (_, usage) = unigramLmFit(spark, dir, rounds, topWords, UnigramMaxPieceLen)
    usage.sortBy { case (p, u) => (-u, p) }.take(topK)
      .zipWithIndex
      .map { case ((p, u), i) => (i + 1L, p, p.length.toLong, u) }
      .toSeq.toDF("rank", "piece", "piece_len", "usage")
      .orderBy(col("rank"))
  }

  private def bpeTrainTypes(spark: SparkSession, dir: String,
                            topWords: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(topWords)

  /** Per-doc quality stats + score (doc_id, nw, nd, mf, score) — the shared
    * front half of [[qualityGate]] and Sampling.qualityTierSample.
    */
  private[operators] def qualityStats(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val t = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nw"), count(lit(1)).as("nd"), max(col("c")).as("mf"))
    // ((len_score + ttr) + 1 − repetition) / 3 — same association order as
    // the oracle SQL so threshold/tier comparisons are bit-identical
    val score = (least(col("nw"), lit(50)).cast("double") / lit(50.0)
      + col("nd").cast("double") / col("nw").cast("double")
      + lit(1.0) - col("mf").cast("double") / col("nw").cast("double")) / lit(3.0)
    t.withColumn("score", score)
  }
}
