package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Tables}
import graft.functions.VectorFunctions._

/** Deduplication family (SURVEY.md §2.3 + the LLM-pipeline north star):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * The reference only has keyed keep-first dedup
  * (`Milvus/stream1.py:215,265` `drop_duplicates(subset=..., keep='first')`);
  * the rest are the operators a 100 TB training-data pipeline needs. All are
  * expressed as shuffle-parallel joins/aggregations — never a driver-side
  * loop — so they scale with cluster width:
  *
  *  - the candidate-pair generators are inverted-index joins (explode key →
  *    equi-join → distinct pairs), the standard way to avoid O(n²) blocking;
  *  - hot keys (a shingle shared by millions of docs) are the skew risk at
  *    scale: cap per-key fanout (frequent-shingle filter) or salt; AQE skew
  *    handling covers the rest.
  */
object Dedup {

  /** D1: keyed keep-first dedup. pandas `keep='first'` is order-sensitive,
    * so "first" is made explicit: min event_id per key (file order == id
    * order in the testdata).
    */
  def keepFirst(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).withColumn("k", col("user_id") % 50)
    val w = Window.partitionBy(col("k")).orderBy(col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("k"), col("event_id"), col("event_type"))
      .orderBy(col("k"))
  }

  /** Exact dedup by content: one survivor (min doc_id) per distinct text.
    *
    * The shuffle key is `xxhash64(text)` (8 bytes), not the document itself —
    * at corpus scale grouping by raw text moves every byte of every document
    * through the exchange (~25× the bytes for this corpus). Equality within
    * a hash group is verified by an independent 128-bit md5 witness: if two
    * DISTINCT texts ever collided on xxhash64 (needs a simultaneous
    * 64+128-bit double collision to go unseen, P ≈ 2⁻¹⁹²·n²), the query
    * fails loudly via `assert_true` instead of silently merging them.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), xxhash64(col("text")).as("h"),
        md5(col("text")).as("w128"), length(col("text")).as("len"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id_kept"), count(lit(1)).as("n_copies"),
        min(col("len")).as("text_len"),
        min(col("w128")).as("w_lo"), max(col("w128")).as("w_hi"))
      .filter(assert_true(col("w_lo") === col("w_hi"),
        lit("xxhash64 collision in exactDedup — distinct texts in one group")).isNull)
      .select(col("doc_id_kept"), col("n_copies"), col("text_len"))
      .orderBy(col("doc_id_kept"))

  /** Word 3-gram shingle set per document (distinct), built by the shared
    * aligned-slice construction ([[graft.functions.Grams.kgrams]] — see
    * there for why the indexed-transform form is avoided).
    */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(graft.functions.Grams.kgrams(col("ws"), 3)).as("sh"))

  /** N-gram Jaccard near-dup pairs, inverted-index formulation:
    * explode shingles → self-equi-join on shingle → per-pair common count c
    * → jaccard = c / (|A| + |B| − c) ≥ threshold.
    * Only pairs sharing ≥1 shingle are ever materialized (same result set as
    * brute force, linear-ish work instead of O(n²)).
    */
  /** Session-lifetime memo of the persisted sketch tables: repeated calls
    * in one session reuse ONE cached DataFrame per (session, table) instead
    * of persist()ing a fresh plan each call — pinned blocks can't
    * accumulate across executions. `spark.catalog.clearCache()` stays safe:
    * it drops the blocks and the memoized plan just recomputes uncached.
    *
    * Retention contract: the session is held weakly AND the DataFrame —
    * which strongly references its session via queryExecution — is held
    * SOFTLY, so the memo never makes a session strongly reachable. A
    * stopped or unreferenced session's entries are pruned on the next call
    * (the `isStopped` check) or reclaimed under memory pressure (the soft
    * reference) — no JVM-lifetime retention in multi-session JVMs. A
    * cleared soft reference only costs a rebuild of the plan OBJECT: the
    * canonical plan is unchanged, so `persist` re-attaches to the existing
    * CacheManager entry instead of recomputing blocks.
    *
    * Memo keys embed [[dirFingerprint]] of the data dir, so a dir whose
    * parquet contents are regenerated within one JVM invalidates its
    * sketch/count entries instead of serving stale data.
    */
  private val sketchMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), (java.lang.ref.WeakReference[SparkSession],
      java.lang.ref.SoftReference[DataFrame])]
  /** Test hook: number of memoized persisted sketch tables. */
  private[graft] def sketchMemoSize: Int = sketchMemo.size
  /** Embeddings row count per (data dir, content fingerprint). */
  private val dirCount = scala.collection.concurrent.TrieMap.empty[(String, Long), Long]

  /** Content fingerprint of a data dir — the shared implementation lives
    * in [[graft.Tables.dirFingerprint]] (the index stores use it too).
    */
  private def dirFingerprint(dir: String): Long = Tables.dirFingerprint(dir)

  private def memoPersist(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    sketchMemo.filterInPlace { case (_, (sref, dref)) =>
      val s = sref.get
      s != null && !s.sparkContext.isStopped && dref.get != null
    }
    val k = (System.identityHashCode(spark), key)
    val cached = sketchMemo.get(k) match {
      case Some((sref, dref)) if sref.get eq spark => Option(dref.get)
      case _ => None
    }
    val df = cached.getOrElse {
      val built = build
      sketchMemo.update(k, (new java.lang.ref.WeakReference(spark),
        new java.lang.ref.SoftReference(built)))
      built
    }
    // Re-pin after an external clearCache() or a soft-ref miss: same plan ⇒
    // same CacheManager entry, so this can never stack blocks — it only
    // restores the level.
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Canonical on-disk export of the xxhash64 sketch artifacts for `dir` —
    * the same exported-artifact oracle pattern as `IndexStore.defaultPath`:
    * the signatures themselves are engine-specific (xxhash64 + codegen
    * kernels), but the BANDING / Hamming-verify joins over them are pure
    * SQL, so exporting the sketch frame lets DuckDB replay the join half
    * of the query row for row.
    */
  private[graft] def sketchStorePath(dir: String): String =
    graft.sources.Artifact.storeDir("sketch_store", dir)

  /** Write `build` to `path` once per data-dir CONTENT: a `_fp_<hash>`
    * marker (underscore-prefixed — invisible to Spark and to the oracle's
    * `*.parquet` glob) records the dir fingerprint the export was built
    * from, so regenerated testdata re-exports instead of serving stale
    * sketches, while repeated queries in steady state skip the write.
    */
  private[graft] def ensureExport(path: String, fp: Long)(build: => DataFrame): Unit =
    graft.sources.Artifact.ensure(path, fp.toString, marker = graft.sources.Artifact.ExportFp) {
      build.write.mode("overwrite").parquet(path)
    }

  /** Shared candidate-pair front half of the shingle-overlap family
    * ([[ngramJaccardPairs]], [[containmentPairs]]): memoized shingle table
    * → inverted index on the shingle's 64-bit hash → df-pruned self-join →
    * per-pair common counts, joined back to both docs' set sizes.
    *
    * Join on the hash, not the string: the shuffle moves 8-byte keys
    * instead of ~25-byte text. A collision would need two distinct
    * shingles at the same 64-bit value inside one doc pair — P ≈ n²/2⁶⁵,
    * negligible even at 100 TB corpus scale.
    *
    * Document-frequency prune: a shingle appearing in a single document
    * joins only with itself and contributes no pair, so dropping df=1
    * keys shrinks the self-join input (most shingles are unique) without
    * changing ANY pair's common count — results stay oracle-exact.
    * `dfCap` is the skew guard for corpus scale: a stop-shingle shared by
    * millions of docs would fan the self-join out quadratically on one
    * key, so keys with df > dfCap are dropped. Capping only LOWERS a
    * pair's common count (sizes are unaffected), so the capped result is
    * always a subset of the exact one — the standard recall/cost dial of
    * production MinHash/Jaccard dedup. Default = no cap (oracle anchor).
    *
    * Returns (id_a, id_b, common, n_a, n_b) with id_a < id_b.
    */
  private def shinglePairCommon(spark: SparkSession, dir: String, dfCap: Long): DataFrame =
    // The whole pair-counts frame is memoized, not just the shingle table:
    // it feeds SEVEN consumers (jaccard/containment pairs, the pagerank
    // and label-prop edge lists, clusters, keep-best, the threshold
    // curve, lsh_eval's truth leg), each of which would otherwise re-run
    // the inverted-index self-join — the most expensive shared front-half
    // in the dedup family. The frame is pair-sized (candidates with ≥1
    // shared shingle), orders of magnitude below the exploded index.
    memoPersist(spark, s"pairCommon|$dir|$dfCap|${dirFingerprint(dir)}") {
      // Cached because the shingle table feeds four plan branches (sizes,
      // df-prune, both self-join sides); spill-safe level.
      val sh = memoPersist(spark, s"shingles|$dir|${dirFingerprint(dir)}")(
        shingles(Tables.documents(spark, dir)))
      val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
      val inv = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
      val df2 = inv.groupBy(col("sh_h")).count()
        .filter(col("count") >= 2 && col("count") <= dfCap)
        .select(col("sh_h"))
      val inv2 = inv.join(df2, "sh_h")
      inv2.as("a").join(inv2.as("b"),
          col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("common"))
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
    }

  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.12,
                        dfCap: Long = Long.MaxValue): DataFrame =
    shinglePairCommon(spark, dir, dfCap)
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), micro(col("jaccard")).as("jaccard_micro"))
      .orderBy(col("id_a"), col("id_b"))

  /** Shingle-CONTAINMENT near-dup pairs — the asymmetric relation Jaccard
    * misses: a short document pasted inside a much longer one scores
    * common/min(|A|,|B|) ≈ 1 while its Jaccard c/(|A|+|B|−c) stays low
    * (the union is dominated by the longer doc). This is the document-level
    * form of the substring-dedup rule ("drop a doc mostly contained in
    * another") that suffix-array pipelines apply at span level.
    *
    * Same inverted-index skeleton as [[ngramJaccardPairs]] — shared
    * memoized shingle table, 8-byte xxhash64 join keys, df ≥ 2 prune,
    * `dfCap` skew guard — only the final score differs, and the threshold
    * cut is applied to the integer micro value so the boundary replays
    * exactly in the oracle.
    */
  def containmentPairs(spark: SparkSession, dir: String, thresholdMicro: Long = 500000L,
                       dfCap: Long = Long.MaxValue): DataFrame =
    shinglePairCommon(spark, dir, dfCap)
      .withColumn("containment_micro",
        micro(col("common").cast("double") / least(col("n_a"), col("n_b")).cast("double")))
      .filter(col("containment_micro") >= thresholdMicro)
      // the contained doc = the smaller shingle set (ties → lower id)
      .withColumn("contained_id",
        when(col("n_a") < col("n_b"), col("id_a"))
          .when(col("n_b") < col("n_a"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))))
      .select(col("id_a"), col("id_b"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("common"),
        col("containment_micro"), col("contained_id"))
      .orderBy(col("id_a"), col("id_b"))

  // ------------------------------------------------------------- MinHash --

  /** Fixed affine-permutation constants for MinHash (Broder 1997): h_j(x) =
    * (a_j·x + b_j) mod p, p Mersenne-ish prime. Deterministic (no RNG at
    * plan time) — derived from a splitmix64-style scramble of j.
    */
  private def mixConst(j: Int, salt: Long): Long = {
    var z = j.toLong * 0x9e3779b97f4a7c15L + salt
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & 0x7fffffffffffffffL
  }
  private val P = (1L << 61) - 1 // Mersenne prime 2^61-1

  /** MinHash signature per doc over xxhash64'd shingles: one single-pass
    * codegen'd kernel (SketchExpressions.minhash) computing all `numHashes`
    * permutation minima — same integer arithmetic as folding
    * `aggregate(min)` per permutation, 64× fewer passes. No UDF, no shuffle.
    * Output: (doc_id, sig ARRAY<BIGINT>[numHashes]).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64): DataFrame = {
    // (a*h + b) mod P can overflow long multiply at 61 bits; fold in the
    // 31-bit modular space instead: (a₃₁·(h mod 2³¹−1) + b₃₁) mod 2³¹−1.
    val a31 = (0 until numHashes)
      .map(j => (mixConst(j, 0x5851f42d4c957f2dL) % P) & 0x7fffffffL).toArray
    val b31 = (0 until numHashes)
      .map(j => (mixConst(j, 0x14057b7ef767814fL) % P) & 0x7fffffffL).toArray
    shingles(docs)
      .withColumn("hs", transform(col("sh"), s => abs(xxhash64(s)) % P))
      .select(col("doc_id"),
        graft.expressions.SketchExpressions.minhash(col("hs"), a31, b31).as("sig"))
  }

  /** MinHash LSH candidate pairs: split the signature into `bands` bands of
    * `rows` hashes, hash each band, explode → equi-join docs sharing any
    * band value (the classic banding construction: P[candidate] ≈
    * 1-(1-s^rows)^bands). Shuffle key = (band index, band hash) — uniform by
    * construction, no skew.
    */
  def minhashLshPairs(spark: SparkSession, dir: String,
                      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    // The banded signature frame is EXPORTED once per corpus content and
    // the pair join reads it back — the xxhash64 signatures aren't SQL,
    // but the banding join over the exported frame is, so the DuckDB
    // oracle replays the join half of this query exactly (the sketch
    // half stays covered by the md5 twin + specs).
    val path = s"${sketchStorePath(dir)}/minhash_bands"
    ensureExport(path, dirFingerprint(dir)) {
      val sigs = minhashSignatures(Tables.documents(spark, dir), numHashes)
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(j => element_at(col("sig"), j + 1)): _*).as("bh"))
      }
      sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    }
    val exploded = graft.Tables.storeParquet(spark, path)
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------- SimHash --

  /** 32-bit SimHash (Charikar 2002) per document over word tokens: per bit,
    * majority vote of token-hash bits — one single-pass codegen'd kernel
    * (SketchExpressions.simhash; 32× fewer passes than per-bit folds).
    */
  def simhash(docs: DataFrame, bits: Int = 32): DataFrame = {
    val toks = docs.withColumn("th", transform(split(col("text"), " "), t => xxhash64(t)))
    toks.select(col("doc_id"),
      graft.expressions.SketchExpressions.simhash(col("th"), bits).as("simhash"))
  }

  /** SimHash near-dup candidates: block on 8-bit chunks of the signature
    * (two docs within hamming distance 3 of a 32-bit sig share at least one
    * of 4 chunks — pigeonhole), verify hamming via bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    // Signatures exported once per corpus content; both self-join sides
    // read the parquet back (replacing the old session memo — the export
    // IS the cache), and the DuckDB oracle replays the chunk-block +
    // bit_count(xor) Hamming verify over the same files.
    val path = s"${sketchStorePath(dir)}/simhash_sigs"
    ensureExport(path, dirFingerprint(dir))(simhash(Tables.documents(spark, dir)))
    simhashBlockJoin(graft.Tables.storeParquet(spark, path), maxHamming)
  }

  // -------------------------------------------- Oracle-exact (md5) sketches --

  /** Prime just under 2³² for the double-hashed permutation family. */
  val MinhashP32 = 4294967291L

  /** SQL text for the integer value of 8 hex chars of `col` starting at
    * 1-based `off` — pure nibble arithmetic (position in the hex alphabet ×
    * powers of 16), so the SAME formula runs on any engine ([[Dedup.minhashMd5Pairs]]
    * builds it with `instr`, the DuckDB oracle with `strpos`).
    */
  def hexWordSql(posFn: String, col: String, off: Int): String =
    (0 until 8).map(i =>
      // The weight literal is CAST AS BIGINT so the nibble×weight product is
      // 64-bit on every engine: a bare INT literal would make Spark 4's ANSI
      // mode overflow at 2³¹ whenever the top nibble ≥ 8 (half of all md5s).
      s"(($posFn('0123456789abcdef', substring($col, ${off + i}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT))")
      .mkString("(", " + ", ")")

  /** MinHash+LSH with an engine-portable hash family: ONE md5 per shingle,
    * two 32-bit words h1/h2 pulled out of the digest by nibble arithmetic,
    * and permutation j = (h1 + j·h2) mod p — Kirsch–Mitzenmacher double
    * hashing (ESA 2006), the standard trick for deriving k hash functions
    * from two. Every step is integer SQL, so the banding construction
    * (Broder 1997) replays exactly in the DuckDB oracle; the xxhash64
    * variant stays as the raw-throughput path.
    * Plan shape: explode shingles → ONE map-combined groupBy(doc_id) with
    * numPerms min-aggregates → uniform (band, key) self-join. No all-pairs.
    */
  def minhashMd5Pairs(spark: SparkSession, dir: String,
                      numPerms: Int = 12, bands: Int = 4): DataFrame =
    minhashMd5PairsUnsorted(spark, dir, numPerms, bands)
      .orderBy(col("id_a"), col("id_b"))

  /** [[minhashMd5Pairs]] without the presentation sort — the composition
    * entry point (see Multimodal.phashPairs: a consumer plan that blocks
    * sort elimination pays the banding join twice through the global
    * sort's range-bounds sampling pass).
    */
  private[graft] def minhashMd5PairsUnsorted(spark: SparkSession, dir: String,
                                             numPerms: Int = 12, bands: Int = 4): DataFrame = {
    // The corpus band frame is memoized like the shingle pair-counts
    // frame: it feeds both self-join sides here and the funnel/lsh_eval
    // consumers, and is (docs × bands)-sized — tiny next to the md5 +
    // min-aggregate work that builds it.
    val exploded = memoPersist(spark,
      s"md5bands|$dir|$numPerms|$bands|${dirFingerprint(dir)}")(
      md5BandFrame(Tables.documents(spark, dir), numPerms, bands))
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** LSH quality evaluation — precision/recall of the banded MinHash
    * candidate set against the EXACT n-gram-Jaccard truth set, in one
    * query: the measurement a pipeline runs before trusting a (numPerms,
    * bands) configuration on a new corpus, the dedup sibling of the ANN
    * side's `knn_recall_report`. Both legs are already engine-portable
    * (the md5 banding and the inverted-index Jaccard), so the whole
    * evaluation — candidate generation, truth generation, intersection,
    * integer permille ratios — replays in the oracle.
    *
    * Scale shape: each leg is its own banding/inverted-index join (never
    * all-pairs); the intersection is an equi-join of two pair sets; the
    * three counts are 1-row aggregates crossed at the end (bounded
    * broadcast). Precision misses (banding collisions that aren't dups)
    * cost verify work downstream; recall misses are silent corpus bloat —
    * permille integers make the trade auditable per configuration.
    */
  def lshEval(spark: SparkSession, dir: String, threshold: Double = 0.12,
              numPerms: Int = 12, bands: Int = 4): DataFrame = {
    val truth = ngramJaccardPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b"))
    val cand = minhashMd5Pairs(spark, dir, numPerms, bands)
      .select(col("id_a"), col("id_b"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = truth.join(cand, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_hit"))
    nTruth.crossJoin(nCand).crossJoin(nHit)
      .withColumn("precision_permille", expr("n_hit * 1000 DIV n_cand"))
      .withColumn("recall_permille", expr("n_hit * 1000 DIV n_truth"))
  }

  /** Dedup threshold dial: how many near-dup PAIRS and how many FLAGGED
    * DOCUMENTS each candidate τ would act on — the measurement a pipeline
    * runs before committing to a similarity cut (too low deletes unique
    * text, too high ships duplicates; this query prices every level at
    * once). Same one-pass conditional-aggregation trick as
    * `knn_recall_curve`: the pair set is computed ONCE (the shared
    * memoized inverted-index join), per-level pair counts are conditional
    * sums over it, and per-level doc counts ride a per-doc max-similarity
    * aggregate (a doc is flagged at τ iff its best pair clears τ) — never
    * a per-level rescan, no count-distinct Expand.
    */
  def thresholdCurve(spark: SparkSession, dir: String,
                     taus: Seq[Long] = Seq(120000L, 200000L, 300000L,
                       500000L, 800000L)): DataFrame = {
    val pairs = ngramJaccardPairs(spark, dir, threshold = 0.0)
    val perDoc = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"),
        col("jaccard_micro"))
      .groupBy(col("doc_id")).agg(max(col("jaccard_micro")).as("ms"))
    val pAgg = pairs.agg(
      taus.map(t => sum(when(col("jaccard_micro") >= t, 1L).otherwise(0L)).as(s"p$t")).head,
      taus.tail.map(t => sum(when(col("jaccard_micro") >= t, 1L).otherwise(0L)).as(s"p$t")): _*)
    val dAgg = perDoc.agg(
      taus.map(t => sum(when(col("ms") >= t, 1L).otherwise(0L)).as(s"d$t")).head,
      taus.tail.map(t => sum(when(col("ms") >= t, 1L).otherwise(0L)).as(s"d$t")): _*)
    val stackSql = s"stack(${taus.length}, " +
      taus.map(t => s"${t}L, p$t, d$t").mkString(", ") +
      ") as (tau_micro, n_pairs, n_docs_flagged)"
    pAgg.crossJoin(dAgg).select(expr(stackSql)).orderBy(col("tau_micro"))
  }

  /** (doc_id, band, bk) MinHash band index over `docs` — the md5/KM double
    * hashing construction shared by the full-corpus pair query
    * ([[minhashMd5Pairs]], self-join) and the incremental probe
    * ([[incrementalNearDup]], delta-vs-index equi-join). This frame IS the
    * artifact a production pipeline persists (bucketed by (band, bk)):
    * dedup of a new crawl batch is then an equi-join against it, never a
    * recompute over the corpus.
    */
  private[graft] def md5BandFrame(docs: DataFrame, numPerms: Int, bands: Int): DataFrame = {
    val r = numPerms / bands
    val hw = shingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), md5(concat(lit("mh:"), col("s"))).as("dg"))
      .select(col("doc_id"),
        expr(hexWordSql("instr", "dg", 1)).cast("long").as("h1"),
        expr(hexWordSql("instr", "dg", 9)).cast("long").as("h2"))
    val mins = (0 until numPerms).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % MinhashP32).as(s"m$j"))
    val sig = hw.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    // Band key = the band's r minima joined as text. Docs with <3 words have
    // no shingles, hence no sig row — they can't near-dup anything anyway.
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("|", (b * r until (b + 1) * r).map(j => col(s"m$j").cast("string")): _*).as("bk")))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** The PERSISTED corpus band index for `dir`: [[md5BandFrame]] over the
    * existing corpus (doc_id % 10 != 0 — everything but today's batch),
    * written ONCE per (dir, params) as a catalog table bucketed AND
    * sorted by the (band, bk) probe key via
    * [[graft.sources.BucketedStore]]. The build pays the banding shuffle
    * a single time; every subsequent probe equi-joins the table with NO
    * Exchange on the corpus side (the scan's hash partitioning already
    * agrees with the join key — spec-asserted in CrudDedupSpec). This is
    * the artifact the Scaladoc always promised: at 100 TB the index is a
    * table, not a per-query recompute.
    */
  private[graft] def ensureBandIndex(spark: SparkSession, dir: String,
                                     numPerms: Int, bands: Int): String = {
    val table = "graft_band_index_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${numPerms}_$bands"
    if (!spark.catalog.tableExists(table)) {
      // The default in-memory catalog forgets tables across JVMs while the
      // table DIRECTORY persists — and the banding CTAS is the one non-~0
      // warm build cost (8-10 s re-paid every fresh JVM before this
      // branch). So the table is EXTERNAL at an explicit path, stamped
      // with the standard `_src_fp` source-fingerprint marker, and a new
      // JVM RE-REGISTERS the catalog entry over the existing bucketed
      // files (schema from footers, same bucket spec — the co-located-join
      // property survives, CrudDedupSpec pins it) instead of re-shuffling
      // the corpus. A stale or unstamped dir (testdata regenerated, or
      // pre-convention) is dropped and rebuilt. A deployment with a real
      // metastore never hits any of this: tableExists is durable there.
      lazy val bandFrame = md5BandFrame(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 0), numPerms, bands)
      graft.sources.Artifact.warehouseTableDir(spark, table) match {
        case Some(d) =>
          val built = graft.sources.Artifact.ensureSource(d.getPath, dir, Nil) {
            graft.streaming.StreamOps.rmTree(d)
            graft.sources.BucketedStore.writeKeysAt(bandFrame, table, Seq("band", "bk"), d.getPath)
          }
          if (!built)
            graft.sources.BucketedStore.registerKeys(spark, table, Seq("band", "bk"), d.getPath)
        case None => // non-local warehouse: managed CTAS, no reuse marker
          graft.sources.BucketedStore.writeKeys(bandFrame, table, Seq("band", "bk"))
      }
    }
    table
  }

  /** Incremental near-dup — the dedup shape a GROWING corpus actually runs:
    * an incoming batch (here doc_id % 10 == 0, standing in for today's
    * crawl) is probed against the PERSISTED band index of the existing
    * corpus ([[ensureBandIndex]] — built once, bucketed by (band, bk) so
    * the probe join shuffles only the batch side), and only
    * (incoming, corpus) band collisions surface. Cost per batch is
    * O(|batch| + collisions), independent of corpus size, which is the
    * entire reason LSH banding exists at 100 TB.
    * Same md5/Kirsch–Mitzenmacher construction as [[minhashMd5Pairs]], so
    * the DuckDB oracle replays it integer for integer.
    */
  def incrementalNearDup(spark: SparkSession, dir: String,
                         numPerms: Int = 12, bands: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpusIndex = spark.table(ensureBandIndex(spark, dir, numPerms, bands))
    val probes = md5BandFrame(docs.filter(col("doc_id") % 10 === 0), numPerms, bands)
    probes.as("q").join(corpusIndex.as("c"),
        col("q.band") === col("c.band") && col("q.bk") === col("c.bk"))
      .select(col("q.doc_id").as("incoming_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
      .orderBy(col("incoming_id"), col("corpus_id"))
  }

  /** Oracle-exact 32-bit SimHash: token-hash bit b is extracted from the
    * b/4-th hex nibble of md5(token) by pure integer arithmetic
    * (instr('0123456789abcdef', char) − 1 — portable to any SQL engine),
    * and the signature bit is the strict per-bit majority (ties → 0).
    * Shape: explode tokens → 32 conditional sums in ONE map-combined
    * groupBy(doc_id) — partial aggregation does the heavy lifting, no UDF.
    */
  def simhashMd5(docs: DataFrame): DataFrame = {
    // The 8 hex nibbles are decoded ONCE per token into integer attributes;
    // the 32 bit-sums then read shiftright(nibble) off those bindings
    // instead of re-running instr+substring per bit (8 decodes, not 32).
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), substring(md5(col("w")), 1, 8).as("h"))
      .select(col("doc_id") +: (1 to 8).map(p =>
        (expr(s"instr('0123456789abcdef', substring(h, $p, 1))") - 1).as(s"nib$p")): _*)
    val bitSums = (0 until 32).map { b =>
      val p = b / 4 + 1
      val j = 3 - b % 4
      sum(shiftright(col(s"nib$p"), j).bitwiseAND(lit(1))).as(s"c$b")
    }
    val agg = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sig = (0 until 32)
      .map(b => when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs over the md5 signatures — same 8-bit-chunk
    * pigeonhole blocking + hamming verify as [[simhashPairs]], but every
    * integer is reproducible in the oracle engine.
    */
  def simhashMd5Pairs(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame =
    simhashBlockJoin(simhashMd5(Tables.documents(spark, dir)), maxHamming)

  /** Chunk-block + hamming-verify self-join shared by both simhash variants:
    * two docs within hamming 3·(chunks−1)/chunks share ≥1 of the 4 8-bit
    * chunks (pigeonhole), so only chunk-colliding pairs are materialized.
    */
  private def simhashBlockJoin(sig0: DataFrame, maxHamming: Int): DataFrame = {
    // doc_id-sized barrier: the self-join references the signature frame
    // twice, and the two join legs are CONCURRENT map stages — left lazy
    // both race to run the full per-token md5/bit-sum signature pass, so
    // the barrier is EAGER (materialize once, both legs read the cache)
    val sig = sig0.localCheckpoint()
    val chunks = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"), shiftright(col("simhash"), c * 8).bitwiseAND(0xffL).as("cv"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-dup: sign-LSH bucket blocking + cosine ≥ τ within
    * bucket. Oracle-checkable because the bucket function is deterministic
    * SQL on both engines.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.30, bits: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // bits=0 (the library default) scales the bucket count with the corpus:
    // ~64 vectors per bucket, clamped to [4, 20] (20 sign bits = 1M buckets;
    // beyond that recall decays and the banded variant
    // [[embeddingNearDupBanded]] is the right scale path anyway). A fixed
    // bits=4 would make the within-bucket self-join O(n²/16) at corpus
    // scale; callers that need a reproducible bucket function (the oracle
    // anchor query) pass bits explicitly.
    val b = if (bits > 0) bits else {
      // The corpus size is a pure function of the data dir's CONTENT —
      // memoized per (dir, fingerprint) so repeated default-bits calls
      // don't each pay a count job, while a regenerated dir re-counts
      // instead of serving a stale total. Superseded fingerprints for the
      // same dir are dropped so the memo stays bounded.
      val fp = dirFingerprint(dir)
      dirCount.filterInPlace { case ((d, f), _) => d != dir || f == fp }
      val n = math.max(1L, dirCount.getOrElseUpdate((dir, fp), emb.count()))
      math.min(20, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(n / 64)))
    }
    val e = emb
      .select(col("vec_id"), col("embedding"), signLshBucket(col("embedding"), b).as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", dot(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), micro(col("sim")).as("sim_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Connected components over an undirected pair graph by ALTERNATING
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Each iteration:
    *
    *  - large-star: every node connects its strictly-LARGER neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller neighbors (and itself)
    *    to the minimum among them.
    *
    * The edge set converges to a star forest whose centers are the
    * component minima in O(log n) iterations REGARDLESS of component
    * diameter. (The previous min-label propagation needed O(diameter)
    * rounds: fine for today's near-clique near-dup graphs, but a
    * chained-duplicate corpus A~B~C~… at 100 TB degrades it to O(n) full
    * joins. CCSpec asserts a 1000-node chain converges within 2·log₂ n
    * iterations.)
    *
    * Scale shape: each half-step is ONE partial-aggregated min + ONE
    * equi-join on node id — shuffle-parallel, no driver-side graph.
    * `localCheckpoint` truncates the iterative lineage each iteration (on
    * a real cluster use `checkpoint` to a reliable dir). The convergence
    * probe is an exact edge-set comparison done as ONE signed-count job
    * (old edges +1, new edges −1, any nonzero group ⇒ not converged)
    * rather than two anti-joins.
    *
    * The loop runs with shuffle partitions sized to the MATERIALIZED edge
    * count (~64k edges/partition, clamped to the session setting): the
    * candidate-pair graph is orders of magnitude smaller than the corpus
    * that produced it, and the iterations are many small stages whose
    * fixed overhead dominates when each task carries a few hundred rows.
    * The initial distinct+checkpoint — the part that actually sees
    * corpus-sized input — still runs at full session parallelism; only
    * the iterations over the checkpointed edge set are pinned. Unlike
    * StreamOps.withStreamPartitions (which isolates its pin on a child
    * `newSession()`), this loop operates on a caller-provided DataFrame
    * already bound to its session, so it mutates that session's conf for
    * the loop's duration and restores it after (Bench/Verify run
    * serially; a concurrent caller would need to hand in a DataFrame
    * built on its own private session).
    *
    * Returns (node, label) where label = min node id of the component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the iteration count it took — the round
    * bound is part of the operator's contract (CCSpec asserts it).
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint(eager = false) // lazy: the count below materializes it
    val nEdges = edges.count()
    if (nEdges == 0)
      return (edges.select(col("lo").as("node"), col("lo").as("label")), 0)
    val spark = edges.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key).toInt
    val loopParts = math.max(1L, math.min(sessionParts.toLong, nEdges / 65536 + 1))
    GraftSession.withConf(spark, key, loopParts.toString) {
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // -- large-star: emit (min(N⁺(u)), v) for every neighbor v > u ------
      val sym = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionByName(edges.select(col("hi").as("src"), col("lo").as("dst")))
      val mins = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val ls = sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("m").as("lo"), col("dst").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
      // -- small-star: emit (min(N⁻(u) ∪ {u}), v) for v ∈ N⁻(u) ∪ {u} -----
      val sym2 = ls.select(col("lo").as("src"), col("hi").as("dst"))
        .unionByName(ls.select(col("hi").as("src"), col("lo").as("dst")))
      val smaller = sym2.filter(col("dst") < col("src"))
      val mins2 = smaller.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = smaller.join(mins2, "src")
        .select(explode(array(
          struct(col("m").as("lo"), col("src").as("hi")),
          struct(col("m").as("lo"), col("dst").as("hi")))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        // lazy: the convergence count below materializes it in the same job
        .localCheckpoint(eager = false)
      // Exact edge-set equality in one job: +1 per old edge, −1 per new —
      // the sets differ iff some (lo,hi) group sums nonzero. Both inputs
      // are checkpointed, so this re-scans cached blocks, not lineage.
      converged = edges.select(col("lo"), col("hi"), lit(1).as("s"))
        .unionByName(ss.select(col("lo"), col("hi"), lit(-1).as("s")))
        .groupBy(col("lo"), col("hi")).agg(sum(col("s")).as("d"))
        .filter(col("d") =!= 0)
        .isEmpty
      edges = ss
      i += 1
    }
    require(converged, s"connected components did not converge in $maxIters iterations")
    // Star state: every member appears exactly once as `hi` with its
    // component-min center as `lo`; centers label themselves.
    val members = edges.select(col("hi").as("node"), col("lo").as("label"))
    val centers = edges.select(col("lo").as("node"), col("lo").as("label")).distinct()
    (members.unionByName(centers).distinct(), i)
    }
  }

  /** Near-dup CLUSTERS: the step that turns pairwise hits into dedup
    * groups — connected components over the n-gram Jaccard candidate
    * graph, one row per cluster (survivor = min doc_id = the cluster id,
    * matching [[exactDedup]]'s min-id survivor rule).
    */
  /** Memoized connected-component labels of the n-gram Jaccard graph —
    * the shared artifact behind [[nearDupClusters]], [[keepBestDedup]]
    * (and any future cluster consumer): a production pipeline persists
    * cluster labels once per corpus snapshot and every downstream action
    * reads them, so the session memo mirrors the real lifecycle instead
    * of re-running the O(log n) CC loop per query.
    */
  private[graft] def ccLabels(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    memoPersist(spark, s"ccLabels|$dir|${dirFingerprint(dir)}|$threshold")(
      connectedComponents(
        ngramJaccardPairs(spark, dir, threshold).select(col("id_a"), col("id_b"))))

  def nearDupClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.12): DataFrame = {
    ccLabels(spark, dir, threshold)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_member"), max(col("node")).as("max_member"))
      .select(col("label").as("cluster_id"), col("n_members"),
        col("min_member"), col("max_member"))
      .orderBy(col("cluster_id"))
  }

  /** Keep-BEST dedup — the action half of near-dup clustering: one
    * survivor per cluster, chosen by QUALITY (argmax quality score, min
    * doc_id on ties) instead of [[exactDedup]]'s positional keep-first.
    * This is the rule a production corpus clean actually wants: when a
    * boilerplate page and its well-written twin collide, keep the good one.
    * Singleton documents survive as their own cluster.
    *
    * Scale shape: the quality scan and the candidate graph reuse their
    * existing bucketed paths ([[ngramJaccardPairs]] inverted index +
    * O(log n)-round [[connectedComponents]]); the survivor choice is ONE
    * hash aggregation — `max(struct(score, −doc_id))` is an argmax that
    * partially aggregates map-side, so no window state and only one row
    * per cluster per partition reaches the exchange.
    */
  def keepBestDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.12): DataFrame = {
    val cc = ccLabels(spark, dir, threshold)
    val scored = TextAnalysis.qualityStats(spark, dir)
      .select(col("doc_id"), micro(col("score")).as("score_micro"))
    scored.join(cc, scored("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"), col("score_micro"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score_micro"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("survivor_id"),
        col("n_members"), col("best.score_micro").as("score_micro"))
      .orderBy(col("cluster_id"))
  }

  /** Scale path for [[embeddingNearDup]]: multi-band sign-LSH blocking with
    * OR-amplification — the same banding construction as
    * [[minhashLshPairs]]. Band `b` keys on the signs of the `bitsPerBand`
    * coordinates starting at `b·bitsPerBand`; a pair is a candidate iff it
    * agrees on ALL bits of SOME band.
    *
    * Why this survives 100 TB where the single low-bit projection doesn't:
    * bucket count grows as 2^bitsPerBand (set bitsPerBand ≈
    * ⌈log₂(n/targetBucket)⌉, so the within-bucket self-join stays bounded),
    * and the recall a longer key loses is bought back by OR-ing independent
    * bands: P[candidate] = 1−(1−p^bits)^bands for per-bit sign-agreement
    * probability p. Candidates are a strict superset of the
    * single-projection variant with the same bitsPerBand (band 0 IS that
    * projection) — asserted in CrudDedupSpec.
    *
    * Shuffle shape: explode to (band, bandKey) → equi-join (uniform keys,
    * no skew) → distinct pairs → join back to fetch vectors → exact cosine
    * verify. Only candidate pairs are ever scored.
    */
  def embeddingNearDupBanded(spark: SparkSession, dir: String,
                             threshold: Double = 0.30, bands: Int = 4,
                             bitsPerBand: Int = 8): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        signLshBucketAt(col("embedding"), b * bitsPerBand, bitsPerBand).as("bh"))
    }
    val keyed = e.select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", dot(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), micro(col("sim")).as("sim_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540) — the
    * cluster-then-dedup curation pass production LLM pipelines run between
    * exact/MinHash dedup and training: k-means the embedding space, then
    * within each cluster drop every item whose cosine to a LOWER-id cluster
    * member reaches τ (keep-the-earliest, the paper's "keep one point per
    * semantic duplicate group" with the id as the arbitrary tie-break).
    *
    * The cluster structure is not rebuilt here — it IS the persisted IVF
    * store ([[graft.sources.IndexStore]]): SemDeDup's k-means partition and
    * the ANN index's coarse quantizer are the same object, so the dedup
    * pass reads the already-clustered parquet layout (`rows/cell_id=*`) and
    * its within-cluster self-join is an equi-join on the STORAGE partition
    * key — each task scans one cluster's files, no corpus-wide shuffle,
    * never all-pairs (pair count is Σ|cell|²). The quadratic term's BOUND
    * is the cluster count: SemDeDup at production scale runs k ≈ 10⁵
    * clusters precisely so |cell| stays fixed as the corpus grows, and
    * that is the knob here too — ivfBuild's nlist = min(100, √n) cap is a
    * test-scale artifact; at 100 TB the store is built with nlist ∝
    * n/targetCellSize and this operator's plan shape is unchanged (the
    * equi-join key count grows, each task's work does not). If rebuilding
    * the store with more cells is not an option, the LSH-banded
    * [[embeddingNearDupBanded]] is the sub-cluster refinement path.
    *
    * Returns one row per REMOVED item: its id, the lowest-id cluster
    * member that evicts it (`dup_of`), the evicting similarity (max over
    * qualifying lower-id members, floor-micro'd AFTER the max), and its
    * cluster. Oracle-checked end-to-end by replaying the same self-join
    * over the exported store artifacts in DuckDB (the knn_ivf pattern);
    * embeddings are L2-normalized so dot == cosine throughout.
    */
  def semanticDedup(spark: SparkSession, dir: String,
                    tau: Double = 0.30): DataFrame = {
    val path = graft.sources.IndexStore.defaultPath(dir)
    graft.sources.IndexStore.ensure(spark, dir, path)
    val (rows, _) = graft.sources.IndexStore.read(spark, path)
    val n = rows.select(col("cell_id"), col("vec_id"), col("embedding"))
    n.as("a").join(n.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", dot(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= tau)
      .groupBy(col("b.vec_id").as("vec_id"), col("b.cell_id").as("cell_id"))
      .agg(min(col("a.vec_id")).as("dup_of"), micro(max(col("cos"))).as("cos_micro"))
      .select(col("vec_id"), col("dup_of"), col("cell_id").cast("long").as("cell_id"),
        col("cos_micro"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-level decontamination — the semantic twin of
    * TextAnalysis.decontaminate (n-gram overlap can't see paraphrased eval
    * leakage; cosine similarity can). Flags every train vector whose
    * cosine to ANY eval-set vector (the vec_id % 97 holdout, matching the
    * text op's eval rule) reaches τ, reporting how many eval rows it hits
    * and the strongest hit.
    *
    * Scale asymmetry is the point, and it dictates EXACT scoring rather
    * than LSH blocking: at 100 TB the train side is the corpus but the
    * eval side is a benchmark suite (thousands of rows), so the eval
    * vectors broadcast whole and every train partition scores its rows
    * against them map-side — one corpus scan, a broadcast-nested-loop
    * cross, partial aggregation before the only exchange (≤ one row per
    * flagged train vector per partition moves). Sign-LSH banding (the
    * [[embeddingNearDupBanded]] trick) is the wrong tool here: at the
    * moderate τ decontamination uses, band-collision recall collapses
    * (measured 1/24 at τ=0.30 on the test corpus) while the exact cross
    * against a bounded eval suite is embarrassingly parallel and
    * shuffle-free.
    */
  def embeddingDecontam(spark: SparkSession, dir: String,
                        threshold: Double = 0.30): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val trainVec = e.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), col("embedding").as("tv"))
    val evalVec = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    trainVec.crossJoin(broadcast(evalVec))
      .withColumn("sim", dot(col("tv"), col("ev")))
      .filter(col("sim") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        micro(max(col("sim"))).as("max_sim_micro"),
        min(col("eval_id")).as("first_eval_id"))
      .orderBy(col("vec_id"))
  }

  /** Edit-distance near-dup pairs — the character-level member of the
    * dedup family, catching what set-of-shingles methods are blind to:
    * two texts with many small IN-PLACE edits keep a low Jaccard yet a
    * small Levenshtein, and vice versa for block reorders. Candidates
    * come from the shared inverted index (≥ 2 common shingles — blocking,
    * never all-pairs), then exact Levenshtein verifies each candidate
    * and the cut is the length-normalized integer micro. Levenshtein is
    * a uniquely-defined integer, so the oracle replays it exactly; the
    * O(len²) DP runs only on blocked candidate pairs.
    */
  def editDistancePairs(spark: SparkSession, dir: String,
                        maxNormMicro: Long = 300000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Blocking at ≥3 common shingles — the recall/cost dial of this
    // operator (same contract as dfCap): observed true matches at the
    // 30% cut share ≥8 shingles, so 3 keeps a wide margin while cutting
    // candidates ~10× vs ≥2 (112k → 10k at sf0.1).
    val cand = shinglePairCommon(spark, dir, Long.MaxValue)
      .filter(col("common") >= 3)
      .select(col("id_a"), col("id_b"))
    // Banded DP: any pair that could pass the normalized cut has
    // lev ≤ (maxNormMicro+1)·maxLen/10⁶, so the 3-arg levenshtein runs the
    // O(len·band) early-exit DP instead of the full O(len²) table and
    // abandons far pairs (the vast majority of blocked candidates) at the
    // first band overflow — measured 15.5 s → ~2 s at sf0.1. Result −1 ⇒
    // above the band ⇒ above the cut; filtering lev ≥ 0 keeps semantics
    // EXACTLY equal to the unbanded form (spec-asserted). maxLen is one
    // bounded driver scalar, same contract as the IVF probe-cell collect.
    // Coalesced: an empty documents table (max = NULL) degrades to band 1
    // over an empty candidate set instead of a driver NPE.
    val maxLen = docs.agg(coalesce(max(length(col("text"))), lit(0))).head().getInt(0)
    val band = (((maxNormMicro + 1) * maxLen - 1) / 1000000L).toInt + 1
    cand.join(docs.select(col("doc_id").as("id_a"), col("text").as("t_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("t_b")), "id_b")
      .withColumn("lev", levenshtein(col("t_a"), col("t_b"), band).cast("long"))
      .filter(col("lev") >= 0)
      .withColumn("lev_micro", expr("lev * 1000000 DIV greatest(length(t_a), length(t_b))"))
      .filter(col("lev_micro") <= maxNormMicro)
      .select(col("id_a"), col("id_b"), col("lev"), col("lev_micro"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PageRank centrality over the near-dup similarity graph — "which
    * duplicated content is most central in the duplicate web". Fixed
    * power-iteration rounds (damping 0.85) over the symmetric
    * n-gram-Jaccard candidate graph; complements [[nearDupClusters]]
    * (WHO is connected) with HOW central each member is.
    *
    * The recurrence is EXACT integer fixed-point (micro units, floor
    * division at both the per-edge contribution and the damped sum) so
    * the DuckDB oracle replays it bit-for-bit: long addition is
    * commutative, making the per-node sum order-independent across
    * engines — none of the usual float-PageRank nondeterminism.
    *
    * Scale shape: the degree-annotated edge list is materialized ONCE
    * (`localCheckpoint`, same contract as [[connectedComponents]]); each
    * round is one equi-join on src + one partially-aggregated sum by dst
    * — two shuffles per round, no driver-side graph state, plan depth
    * bounded by the fixed iteration count. Every node of the symmetric
    * graph has degree ≥ 1, so no dangling-mass correction is needed.
    */
  def dupPagerank(spark: SparkSession, dir: String,
                  threshold: Double = 0.12, iters: Int = 5): DataFrame = {
    val pairs = ngramJaccardPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b"))
    // Checkpoint the EDGE LIST, not just the degree-annotated graph: deg,
    // pr0 and the final projection all re-derive from edges, and without
    // truncation each of them would re-run the whole candidate-pair
    // pipeline (measured: ~6.5 s → ~1.5 s at sf0.1, the pair front-half
    // evaluated once instead of four times).
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .localCheckpoint(eager = false) // lazy: the count below materializes it
    val nEdges = edges.count()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // EAGER: every round's join re-exchanges graph and those map stages
    // are all ready at job start — a lazy barrier would be raced
    val graph = edges.join(deg, "src").localCheckpoint()
    // Loop shuffles carry ≤ one row per node: size them to the
    // materialized graph instead of the session default (same contract as
    // [[connectedComponentsWithRounds]] — tiny loop frames at 32
    // partitions are pure per-task overhead × iterations).
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key).toInt
    GraftSession.withConf(spark, key,
      math.max(1L, math.min(sessionParts.toLong, nEdges / 65536 + 1)).toString) {
      var pr = deg.select(col("src").as("node"), lit(1000000L).as("pr_micro"))
      for (_ <- 1 to iters) {
        pr = graph.join(pr, graph("src") === pr("node"))
          .select(col("dst"), expr("pr_micro DIV out_deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(expr("150000 + (85 * sum(contrib)) DIV 100").as("pr_micro"))
          .select(col("dst").as("node"), col("pr_micro"))
      }
      pr.join(deg, pr("node") === deg("src"))
        .select(col("node"), col("pr_micro"), col("out_deg").cast("long").as("degree"))
        .orderBy(col("node"))
        .localCheckpoint()
    }
  }

  /** Staged dedup FUNNEL — the coverage report a curation pipeline emits
    * after a run: how many documents survive each successive gate
    * (raw → exact dedup → MinHash near-dup removal → length floor). The
    * number a data lead actually reads is the per-stage attrition, not
    * any single gate's output; each stage's survivor rule reuses the
    * corresponding operator's exact semantics (exact = min-id per
    * md5(text) group; near-dup = drop every id that appears as the
    * LARGER side of a banded MinHash candidate pair — [[minhashMd5Pairs]]
    * construction; quality = n_chars ≥ 50), so the funnel is consistent
    * with the individual queries and replays in the oracle from the same
    * CTE fragments.
    *
    * Scale shape: one hash aggregate (exact), the banded pair join
    * (already linear-ish), two anti-join/filter counts — each stage is a
    * scalar, the output is 4 rows.
    */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val exactKept = docs
      .groupBy(md5(col("text")).as("w")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dupIds = minhashMd5Pairs(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
    val nearKept = exactKept.join(dupIds, Seq("doc_id"), "left_anti")
    val qualityKept = nearKept
      .join(docs.filter(col("n_chars") >= 50).select(col("doc_id")), Seq("doc_id"))
    val stages = Seq(
      (1L, "raw", docs.select(col("doc_id"))),
      (2L, "exact_dedup", exactKept),
      (3L, "near_dup", nearKept),
      (4L, "length_floor", qualityKept))
    stages.map { case (no, name, df) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"), col("n_docs"))
    }.reduce(_.unionByName(_)).orderBy(col("stage_no"))
  }

  /** Synchronous label-propagation communities over the near-dup graph
    * (Raghavan et al. 2007), made deterministic: each round every node
    * adopts the most frequent label among its neighbors PLUS its own
    * current label (the self-vote breaks the 2-cycle oscillation of pure
    * neighbor-majority), ties resolved to the smallest label. Unlike
    * connected components ([[dupClusters]]'s lineage), LPA splits a
    * component along its density structure — two dup-cliques joined by
    * one accidental bridge pair land in different communities, which is
    * the grouping a pipeline wants when choosing per-template canonical
    * docs (a bridge collision must not merge two templates).
    *
    * The self-vote is folded into the edge list as SELF-LOOPS rather
    * than a per-round union: each round then references the previous
    * label frame exactly ONCE (one edge join + one argmax aggregate), so
    * the unrolled lineage — and the oracle's unrolled CTE chain — stays
    * linear in rounds instead of doubling per round (a twice-referenced
    * loop frame re-derives its whole upstream twice per level:
    * 2^rounds replays of the candidate-pair front-half).
    *
    * Scale shape: each round is ONE edge-sized equi-join + ONE
    * (node,label) count aggregate + ONE per-node argmax — the argmax is
    * `max(struct(count, -label))`, a hash aggregate with map-side
    * combine, never a per-node window sort. Loop frames carry ≤ one row
    * per node; shuffle partitions are sized to the materialized edge
    * list exactly as in [[dupPagerank]]. Rounds are fixed (not
    * to-convergence): deterministic cost, and the oracle unrolls the
    * same rounds as CTEs. Three rounds: min-label floods a clique in
    * one, the frequency argmax stabilizes bridges by the second, and
    * the third is the verification pass (the bench pays ~0.4 s per
    * round — LabelPropSpec's structures all converge by round 2).
    */
  def dupLabelProp(spark: SparkSession, dir: String,
                   threshold: Double = 0.12, rounds: Int = 3): DataFrame = {
    val pairs = ngramJaccardPairs(spark, dir, threshold)
      .select(col("id_a"), col("id_b"))
    val sym = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
    val edges = sym
      .unionAll(sym.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"))) // self-loop = self-vote
      .localCheckpoint()
    val nEdges = edges.count()
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key).toInt
    // Finer grain than pagerank's sizing: LPA rounds carry (node, label)
    // VOTE rows (≈ 2·|edges| per round) through TWO aggregates each, so a
    // single partition serializes real work — size to ~16k votes/task.
    GraftSession.withConf(spark, key,
      math.max(1L, math.min(sessionParts.toLong, nEdges / 16384 + 1)).toString) {
      var lab = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to rounds) {
        lab = edges.join(lab, edges("src") === lab("node"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("dst").as("node"), (-col("m.nl")).as("label"))
      }
      // The final frame is referenced twice (sizes + join): truncate the
      // 4-round lineage once so it isn't evaluated once per reference.
      lab = lab.localCheckpoint()
      val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
      lab.join(sizes, "label")
        .select(col("node"), col("label"), col("community_size"))
        .orderBy(col("node"))
        .localCheckpoint()
    }
  }

  /** Corpus-wide exact SEGMENT dedup with document reconstruction — the
    * sub-document exact-dedup shape ("remove every duplicated passage,
    * keep its globally first occurrence, then rebuild each document from
    * its surviving passages"). Passages here are non-overlapping
    * `segWords`-word windows, the paragraph stand-in for this corpus's
    * single-line docs. The reference dedups whole keyed rows only
    * (`Milvus/stream1.py:215` `drop_duplicates`); passage granularity is
    * the LLM-pipeline extension.
    *
    * Scale shape, and why this is a groupBy + equi-join rather than one
    * window over the segment hash:
    *  - the keep-first DECISION is `groupBy(h).agg(min(struct(doc_id,
    *    seg_no)))` — partially aggregated map-side, so a boilerplate
    *    passage shared by millions of docs combines to one row per input
    *    partition before the exchange (a `Window.partitionBy(h)` would
    *    funnel every copy of the hot key through one task, unsplittable);
    *  - segment text rides the JOIN exchange exactly once, and a skewed
    *    `h` there is AQE-splittable because each segment row only needs
    *    the one matching first-occurrence row, not its whole group;
    *  - reconstruction is the second and last full-bytes exchange
    *    (`groupBy(doc_id)`, surviving bytes only).
    * Distinct-text collisions on the 8-byte shuffle key are caught by the
    * independent 128-bit md5 witness carried through the firsts agg, same
    * contract as [[exactDedup]].
    */
  def paragraphDedup(spark: SparkSession, dir: String, segWords: Int = 10): DataFrame = {
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), ceil(size(col("ws")) / lit(segWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(col("ws"), i * segWords + 1, lit(segWords))))))
      .withColumnRenamed("pos", "seg_no").withColumnRenamed("col", "seg")
      .withColumn("h", xxhash64(col("seg")))
    val firsts = segs
      .select(col("h"), md5(col("seg")).as("w128"), struct(col("doc_id"), col("seg_no")).as("at"))
      .groupBy(col("h"))
      .agg(min(col("at")).as("first"),
        min(col("w128")).as("w_lo"), max(col("w128")).as("w_hi"))
      .filter(assert_true(col("w_lo") === col("w_hi"),
        lit("xxhash64 collision in paragraphDedup — distinct segments in one group")).isNull)
      .select(col("h"), col("first"))
    segs.join(firsts, "h")
      .withColumn("is_first",
        (col("doc_id") === col("first.doc_id") && col("seg_no") === col("first.seg_no")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"), sum(col("is_first")).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("is_first") === 1, struct(col("seg_no"), col("seg"))))),
          s => s.getField("seg")), " ").as("text_kept"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------- Substring runs --

  /** Positional word k-grams: (doc_id, pos, gram-hash) with 1-based pos.
    * Unlike [[shingles]] this keeps EVERY occurrence and its position —
    * the anchor table for span-level (suffix-array-style) dedup.
    */
  private def posGrams(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // guard BEFORE sequence(): Spark's sequence(1, 0) descends instead of
      // being empty, which would mint short phantom grams for < k-word docs
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("ws")) - (k - 1)),
        i => concat_ws(" ", slice(col("ws"), i, lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), xxhash64(col("col")).as("gh"))

  /** Span-level exact-duplicate detection, the suffix-array dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed as joins: find every maximal word run of
    * length ≥ `minSpan` shared verbatim between two distinct documents.
    *
    * Anchor-and-extend as pure relational algebra:
    *  1. positional k-gram inverted index (linear in corpus tokens);
    *  2. occurrence-count prune (count ≥ 2 cannot drop a cross-doc match;
    *     `dfCap` is the same recall/cost skew dial as the Jaccard family —
    *     capping can only shrink or split runs, never invent one);
    *  3. self-equi-join on the 8-byte gram hash → match points
    *     (id_a, id_b, pa, pb) with id_a < id_b;
    *  4. every k-gram inside a shared span matches at consecutive pa on
    *     one diagonal d = pa − pb, so maximal runs are gaps-and-islands:
    *     island = pa − row_number() within (pair, diagonal), run length
    *     = max(pa) − min(pa) + k words.
    *
    * Scale shape: no O(n²) anywhere — the join fans out only where grams
    * collide, the window partitions by (pair, diagonal) whose groups are
    * span lengths (bounded by document length), and at 100 TB `dfCap`
    * bounds the hot-gram worst case exactly as in [[ngramJaccardPairs]].
    *
    * Returns (id_a, id_b, pos_a, pos_b, span_words), span_words ≥ minSpan.
    */
  def substringRuns(spark: SparkSession, dir: String, k: Int = 5, minSpan: Int = 8,
                    dfCap: Long = Long.MaxValue): DataFrame = {
    val inv = memoPersist(spark, s"posgrams|$k|$dir|${dirFingerprint(dir)}")(
      posGrams(spark, dir, k))
    val keep = inv.groupBy(col("gh")).count()
      .filter(col("count") >= 2 && col("count") <= dfCap)
      .select(col("gh"))
    val inv2 = inv.join(keep, "gh")
    val m = inv2.as("a").join(inv2.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag")).orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(min(col("pa")).as("pos_a"), min(col("pb")).as("pos_b"),
        (max(col("pa")) - min(col("pa")) + k).as("span_words"))
      .filter(col("span_words") >= minSpan)
      .select(col("id_a"), col("id_b"), col("pos_a").cast("long").as("pos_a"),
        col("pos_b").cast("long").as("pos_b"),
        col("span_words").cast("long").as("span_words"))
      .orderBy(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"))
  }

  /** Per-document duplication report over [[substringRuns]]: how much of
    * each affected document is covered by cross-document duplicated spans
    * — the number the span-removal pass of a suffix-array pipeline acts
    * on. Both endpoints of every run contribute an interval; overlapping
    * intervals are merged (classic running-max island merge) so a word
    * inside three spans counts once.
    *
    * Returns (doc_id, n_words, dup_spans, dup_words, dup_frac_micro) for
    * documents with ≥ 1 duplicated span.
    */
  def substringStats(spark: SparkSession, dir: String, k: Int = 5, minSpan: Int = 8,
                     dfCap: Long = Long.MaxValue): DataFrame = {
    val runs = substringRuns(spark, dir, k, minSpan, dfCap)
    val iv = runs.select(col("id_a").as("doc_id"), col("pos_a").as("s"),
        (col("pos_a") + col("span_words") - 1).as("e"))
      .unionAll(runs.select(col("id_b").as("doc_id"), col("pos_b").as("s"),
        (col("pos_b") + col("span_words") - 1).as("e")))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = iv
      .withColumn("prev_max", max(col("e")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0)).over(wOrd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"), sum(col("e") - col("s") + 1).as("dup_words"))
    val nw = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    merged.join(nw, "doc_id")
      .select(col("doc_id"), col("n_words"), col("dup_spans"), col("dup_words"),
        micro(col("dup_words").cast("double") / col("n_words").cast("double")).as("dup_frac_micro"))
      .orderBy(col("doc_id"))
  }

  /** The span-REMOVAL action of suffix-array dedup (the transformation
    * Lee et al. actually apply): every duplicated run survives in exactly
    * its lowest-id document; the higher-id side's interval is cut. Keep-
    * first by doc_id makes the survivor deterministic, the same contract
    * as [[exactDedup]]'s min(doc_id).
    *
    * Scale shape: the corpus text NEVER shuffles — the per-doc interval
    * lists (bounded: a handful of runs per affected doc) aggregate on the
    * tiny runs frame and join back to the scan, and the cut itself is one
    * scan-bound `filter(ws, (w, i) -> …)` higher-order function over word
    * positions. Overlapping intervals need no pre-merge: coverage is an
    * EXISTS test.
    *
    * Returns (doc_id, n_words, n_kept, text_kept) for every document.
    */
  def substringPrune(spark: SparkSession, dir: String, k: Int = 5, minSpan: Int = 8,
                     dfCap: Long = Long.MaxValue): DataFrame = {
    val runs = substringRuns(spark, dir, k, minSpan, dfCap)
    val ivs = runs.select(col("id_b").as("doc_id"), col("pos_b").as("s"),
        (col("pos_b") + col("span_words") - 1).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .join(broadcast(ivs), Seq("doc_id"), "left")
      // exists() over an unmatched (null) interval list is null → not covered
      .withColumn("kept", filter(col("ws"), (w, i) =>
        not(coalesce(exists(col("ivs"), iv =>
          (i + 1) >= iv.getField("s") && (i + 1) <= iv.getField("e")), lit(false)))))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source contamination matrix: which corpus sources share
    * verbatim spans, and how much — the train/eval-leakage report a
    * multi-source pipeline runs before mixing. One tiny agg over
    * [[substringRuns]] joined to the doc→source map (broadcastable at any
    * corpus scale: sources are few even when docs are billions).
    *
    * Returns (source_a, source_b, n_runs, dup_words) with source_a ≤
    * source_b (unordered pair, canonicalized).
    */
  def substringSourceMatrix(spark: SparkSession, dir: String, k: Int = 5, minSpan: Int = 8,
                            dfCap: Long = Long.MaxValue): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    substringRuns(spark, dir, k, minSpan, dfCap)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("span_words"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_runs"), sum(col("span_words")).as("dup_words"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Bloom-pruned incremental EXACT dedup — the cheap front gate before
    * [[incrementalNearDup]]'s LSH probe: is today's batch row verbatim
    * already in the corpus?
    *
    * A plain hash anti-join answers that, but it shuffles the ENTIRE batch
    * every day even though almost all crawl rows are novel. Instead the
    * corpus's content-hash set is summarized once into a Bloom filter
    * (Spark's own `BloomFilterAggregate` — the sketch Catalyst injects for
    * runtime join pruning, here used deliberately): `might_contain = false`
    * rows are PROVABLY novel (Bloom filters have no false negatives) and
    * short-circuit past the join as a pure map-side filter; only the
    * `maybe` sliver — true duplicates plus ~fpp·|batch| false positives —
    * pays the exact confirm join, so the result is byte-identical to the
    * plain join at a fraction of its shuffle. With `numBits` = 8 M over the
    * corpus hashes the filter is a 1 MiB broadcast literal (the same
    * bounded-metadata contract as IndexStore's centroids — size is a knob,
    * never a function of batch size). At 100 TB the filter is a persisted
    * sidecar updated with each ingest (like [[ensureBandIndex]]'s band
    * table); here it is rebuilt per call, one map-combined pass over the
    * corpus hashes.
    *
    * The Bloom key is `xxhash64(text)` (fast, long-typed — what the
    * aggregate requires); the confirm join key is the independent
    * `md5(text)` witness, so the oracle (which has no xxhash64) replays the
    * md5 join verbatim and the Bloom stays what it is: a pruning hint with
    * zero effect on the answer. CrudDedupSpec additionally pins the
    * bloom≡plain-join equivalence and that definite-novel rows really do
    * bypass the join.
    *
    * Returns (doc_id, dup_of, n_copies): `dup_of` = smallest corpus doc_id
    * with identical text (null ⇒ novel), `n_copies` = corpus copies found.
    */
  /** The corpus content-hash Bloom sidecar for `dir` — one map-combined
    * pass over the corpus side (doc_id % 10 != 0): per-partition filters
    * OR-merge into a single serialized sketch on the driver (bounded by
    * numBits), PERSISTED via [[graft.sources.BloomSidecar]] (same _src_fp
    * staleness cascade as the band index / IVF stores) so every later
    * batch or micro-batch probe reuses the artifact instead of rescanning.
    * Shared by [[bloomIncrementalDedup]] and the streaming ingest gate
    * ([[graft.streaming.StreamOps.streamBloomIngest]]).
    */
  private[graft] def ensureContentBloom(spark: SparkSession, dir: String,
                                        numBits: Long): Array[Byte] = {
    graft.sources.BloomSidecar.ensure(dir, "content_xxh64", numBits)(
      contentBloomOf(Tables.documents(spark, dir).filter(col("doc_id") % 10 =!= 0), numBits))
  }

  /** Bloom filter bytes over xxhash64(text) of an arbitrary document frame
    * — the per-batch DELTA a day-2 ingest ORs into the persisted sidecar
    * ([[graft.sources.BloomSidecar.absorb]]). Same aggregate parameters as
    * [[ensureContentBloom]], so the sketches are merge-compatible. An empty
    * frame yields an empty (all-zero) filter of the same shape.
    */
  private[graft] def contentBloomOf(docs: DataFrame, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(
      expression(xxhash64(col("text"))),
      Literal(1000000L), Literal(numBits)).toAggregateExpression()
    Option(docs.select(column(agg).as("bf")).head.getAs[Array[Byte]](0))
      .getOrElse {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter.create(1000000L, numBits).writeTo(bos)
        bos.toByteArray
      }
  }

  /** Day-2 lifecycle: absorb an ingested batch into the corpus's Bloom
    * sidecar — one pass over the BATCH only, then a driver-side bit-OR.
    * After this, [[bloomIncrementalDedup]]/the streaming gate treat the
    * batch's contents as corpus members without any corpus rescan.
    */
  def bloomAbsorbBatch(spark: SparkSession, dir: String, batch: DataFrame,
                       numBits: Long = 8L * 1024 * 1024): Array[Byte] = {
    ensureContentBloom(spark, dir, numBits) // no-op when current
    graft.sources.BloomSidecar.absorb(dir, "content_xxh64", numBits,
      contentBloomOf(batch, numBits))
  }

  /** `might_contain(bits, e)` as a Column — the map-side Bloom gate. */
  private[graft] def mightContainCol(bits: Array[Byte],
                                     e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(Literal(bits, BinaryType), expression(e)))
  }

  /** Day-2 lifecycle for the persisted band index ([[ensureBandIndex]]):
    * APPEND an ingested batch's band rows into the bucketed (band, bk)
    * table — each append lands its rows in their hash buckets under the
    * same spec, so probes keep the zero-corpus-Exchange property and
    * tomorrow's batch collides with today's without any index rebuild.
    */
  def bandIndexAbsorb(spark: SparkSession, dir: String, batch: DataFrame,
                      numPerms: Int = 12, bands: Int = 4): String = {
    val table = ensureBandIndex(spark, dir, numPerms, bands)
    graft.sources.BucketedStore.appendKeys(
      md5BandFrame(batch, numPerms, bands), table, Seq("band", "bk"))
    table
  }

  def bloomIncrementalDedup(spark: SparkSession, dir: String,
                            numBits: Long = 8L * 1024 * 1024): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), xxhash64(col("text")).as("bh"), md5(col("text")).as("w"))
    val mightContain = mightContainCol(ensureContentBloom(spark, dir, numBits), col("bh"))

    val maybe = batch.filter(mightContain)
    val definiteNovel = batch.filter(!mightContain)
    val corpusKeys = corpus
      .select(md5(col("text")).as("w"), col("doc_id").as("cid"))
      .groupBy(col("w"))
      .agg(min(col("cid")).as("dup_of"), count(lit(1)).as("n_copies"))
    val confirmed = maybe.join(corpusKeys, Seq("w"), "left")
      .select(col("doc_id"), col("dup_of"), coalesce(col("n_copies"), lit(0L)).as("n_copies"))
    definiteNovel
      .select(col("doc_id"), lit(null).cast("long").as("dup_of"), lit(0L).as("n_copies"))
      .unionByName(confirmed)
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunks of every document — the storage-dedup cut
    * (LBFS/Venti lineage, FastCDC's gear variant at word granularity):
    * a chunk boundary falls AFTER any word whose 32-bit gear hash is
    * ≡ 0 (mod `gear`), so cut points depend only on LOCAL content.
    * That's the property fixed-size chunking lacks: insert a paragraph
    * at the front and every fixed-size block shifts, but content-defined
    * boundaries re-synchronize at the first gear word after the edit —
    * unchanged suffixes keep their chunk hashes (spec-asserted), which
    * is what makes chunk-level dedup catch partial overlap between
    * crawl snapshots that whole-doc hashing misses.
    *
    * Engine-portable construction: ONE md5 per word ([[hexWordSql]]
    * nibble arithmetic, the minhashMd5 hash family), the boundary scan
    * is a per-doc running sum (window partitioned by doc_id — token
    * ordering never leaves its document, so the shuffle is doc-sized),
    * and chunk text reassembles via sort_array(collect_list(struct)) —
    * order-deterministic on both engines (`string_agg ... ORDER BY` in
    * the oracle).
    */
  private[graft] def cdcChunks(docs: DataFrame, gear: Int): DataFrame = {
    val w = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("dg", md5(concat(lit("cdc:"), col("w"))))
      .withColumn("brk",
        (expr(hexWordSql("instr", "dg", 1)).cast("long") % gear === 0).cast("long"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    w.withColumn("chunk", coalesce(sum(col("brk")).over(win), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("w")))), x => x("w")),
          " ")).as("chunk_hash"),
        count(lit(1)).as("n_words"))
  }

  /** Cross-snapshot chunk containment — [[cdcDedup]]'s incremental form,
    * the question a crawl pipeline asks of every NEW batch: "how much of
    * this is content we already store?" (the storage-dedup use CDC was
    * invented for: unchanged chunks are not re-stored). Corpus = doc_id
    * % 10 ≠ 0, batch = the rest (the incremental-dedup convention);
    * per batch doc: the share of its chunks whose hash already exists in
    * the corpus chunk set. ONE distinct corpus-hash frame, one equi-join
    * — never doc-pair work, and the corpus side is exactly the artifact
    * a production pipeline would keep persisted.
    */
  def cdcIncremental(spark: SparkSession, dir: String, gear: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpusHashes = cdcChunks(docs.filter(col("doc_id") % 10 =!= 0), gear)
      .select(col("chunk_hash")).distinct()
    cdcChunks(docs.filter(col("doc_id") % 10 === 0), gear)
      .join(corpusHashes.withColumn("known", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("known"), lit(0L))).as("n_known_chunks"))
      .withColumn("known_permille", expr("n_known_chunks * 1000 DIV n_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Chunk-level duplication report per document: how much of each doc is
    * made of chunks that also appear in ANOTHER doc. Near-dup tells you
    * two docs are similar; this tells you WHICH SHARE of a doc is
    * boilerplate/recycled — the number a pipeline thresholds to strip
    * template-heavy pages while keeping their unique remainder.
    *
    * Scale shape: chunking is one linear token pass (per-doc windows);
    * cross-doc detection is ONE hash aggregate over the chunk table
    * (`count(distinct doc_id) ≥ 2` per chunk_hash) joined back — never a
    * doc-pair join, so cost is O(tokens + chunks), independent of how
    * many docs share a chunk.
    */
  def cdcDedup(spark: SparkSession, dir: String, gear: Int = 8): DataFrame = {
    val chunks = cdcChunks(Tables.documents(spark, dir), gear)
    val occ = chunks.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(occ, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_permille", expr("n_dup_chunks * 1000 DIV n_chunks"))
      .orderBy(col("doc_id"))
  }
}
