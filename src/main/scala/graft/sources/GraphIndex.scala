package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.VectorSearch
import graft.functions.VectorFunctions._

/** A navigable kNN-graph ANN index — the structural twin of the reference's
  * HNSW index (`Milvus/stream1.py:117` builds HNSW with M=16,
  * efConstruction=200 and searches it with ef=128 at `stream1.py:161-162`).
  *
  * HNSW is a pointer-chasing in-memory structure; its lake-scale analogue is
  * a PERSISTED EDGE LIST: each node keeps its M best out-neighbors
  * (by cosine, = dot on the L2-normalized embeddings), and a query walks the
  * graph greedily from a fixed entry set. The two HNSW ingredients map to
  * batch Spark as:
  *
  *  - '''Build = NN-Descent as iterative joins''' (Dong et al., WWW'11 —
  *    public knowledge). Initial candidates come from banded sign-LSH
  *    blocking (equi-join within bounded buckets, the same family as
  *    Dedup.embeddingNearDupBanded — never all-pairs); then each descent
  *    round proposes neighbors-of-neighbors via one equi-join of the
  *    (symmetrized) edge list with itself on the shared middle node, scores
  *    the proposals, and keeps each node's top-M. Per round a node
  *    contributes ≤ (2M)² candidates, so candidate volume is O(N·M²) —
  *    linear in the corpus, shuffled on uniform vec_id keys.
  *  - '''Search = fixed-hop beam search''' (HNSW's ef-bounded best-first
  *    walk, unrolled to a deterministic hop count). The frontier is the
  *    beam-best visited set per query; its node ids are bounded driver
  *    metadata (≤ nq·beam), inlined as an IN-list so the sorted edge layout
  *    prunes row groups before reading (the IndexStore.searchPruned
  *    pattern). Each hop expands ≤ nq·beam·M candidates.
  *
  * The edge list persists `(src, dst, sim, dst_emb)` range-partitioned and
  * sorted by `src`: probes hit a contiguous id range, parquet min/max stats
  * skip the rest — HNSW's adjacency-array locality, on object storage.
  * Embedding payloads ride on the edges (the same space-for-IO trade HNSW
  * makes by keeping vectors next to links) so a hop never joins back to the
  * corpus.
  */
object GraphIndex {

  /** Out-degree bound M = 16, matching the reference HNSW's M exactly
    * (`stream1.py:117`).
    */
  val M = 16

  /** NN-Descent rounds. Dong et al. report convergence in 4-6 rounds on
    * million-scale corpora even from a random init; each round is one
    * linear-cost candidate join, and the resulting edge quality is
    * spec-measured (GraphIndexSpec).
    */
  val descentRounds = 8

  /** Working out-degree during construction — HNSW's efConstruction=200 ≫ M
    * trade (`stream1.py:117`): a wider working neighborhood makes each
    * descent round propose 4× the candidates and converge in fewer rounds;
    * the persisted graph is trimmed back to [[M]]. Measured on the bench
    * corpus: degree-32 descent reaches edge recall 0.997 in 8 rounds where
    * degree-16 plateaus at 0.87 (GraphIndexSpec pins the floor).
    */
  val buildDegree = 32

  private val lshBits = 6
  private val bandOffsets = Seq(0, 8, 16)
  private val bucketCap = 128

  /** Batch-restricted NN-Descent rounds the day-2 [[absorb]] runs after
    * linking — enough to close the new→new neighborhoods the insert walk
    * cannot see (measured on the half+half spec corpus: 0 rounds → edge
    * recall 0.78, 2 rounds → the build's own ≥0.95 floor).
    */
  private val absorbRounds = 2

  /** Deterministic entry set: every 97th vec_id (a fixed coarse sample of
    * the id space, the flat analogue of HNSW's sparse upper layers whose
    * only job is to land the walk near the query). Prime stride so the
    * sample is unbiased against any periodic id structure.
    */
  val entryStride = 97

  /** Geometric level factor: level n samples every
    * (entryStride·l1Factor^n)-th vec_id — HNSW's layer stack as recursive
    * samples-of-the-sample. The flat entry cross scores nq · N/97
    * candidates, which grows linearly with the corpus; past
    * [[HierFlatBound]] entries the walk instead descends hierarchically —
    * cross the topmost sample, walk [[l1Hops]] hops over each persisted
    * level graph ([[ensureLevel]] derives `edges_l1` among the stride
    * nodes and `edges_l2` among the coarse nodes), and seed the next level
    * down from the beam best of that. With the current two upper levels
    * v0 cost drops from nq·N/97 to nq·N/99328 plus four bounded
    * (nq·beam·M) level expansions — no serve term stays corpus-linear.
    */
  val l1Factor = 32

  /** Level-1 walk depth — two hops over the stride-node graph reach
    * M + M² ≈ 270 sample nodes from each coarse seed, enough to land the
    * level-0 walk in the right neighborhood (the only job HNSW gives its
    * upper layers).
    */
  val l1Hops = 2

  /** Entry-count threshold where the hierarchical descent engages. Below
    * it the flat cross is both cheaper and exhaustive (every serve-path
    * corpus through the sf1 decade stays flat, keeping those walks — and
    * their oracle replays — byte-identical); `knn_graph_hier` forces 0 to
    * exercise and oracle-check the hierarchical path at every sf.
    */
  val HierFlatBound = 4096

  /** `maxFlatEntries` pin for the NAMED oracle-checked queries whose DuckDB
    * replay is the FLAT entry cross (`knn_graph`, `graph_tombstone`,
    * `graph_recall_curve`, `graph_autotune`, `graph_compact`,
    * `lake_sql_graph` — whose [[sqlGraphQuery]] emits the flat SQL text
    * unconditionally, keeping the knn_graph row identity at every corpus
    * size (the hier text is its own named query, `lake_sql_graph_hier` /
    * [[sqlGraphHierQuery]]) — and the streaming absorb walks):
    * their CONTRACT is the flat walk — the oracle text defines the
    * semantics — so the adaptive hierarchy must never silently switch them
    * past [[HierFlatBound]] (the oracle compare and the
    * knn_graph == lake_sql_graph identity would both break at the first
    * corpus past the bound). The hierarchical path has its own named query
    * with its own unrolled replay (`knn_graph_hier`, forced via
    * maxFlatEntries = 0); ENGINE callers of [[search]] keep the adaptive
    * default.
    */
  val FlatPinned = Long.MaxValue

  /** Below this entry count a level graph is derived from EXACT all-pairs
    * scoring among the level's nodes (≤ 2²⁰ bounded pairs) instead of
    * 1-/2-hop reachability in the finer level — small samples (the top of
    * the hierarchy) are too sparse for reachability to connect, and exact
    * construction there is both cheaper and complete. Past the bound the
    * reachability derivation takes over (O(edges), never all-pairs).
    */
  val LevelAllPairsBound = 1024L

  /** Build the kNN graph: banded sign-LSH init, then [[descentRounds]] of
    * neighbor-of-neighbor refinement. Returns `(src, dst, sim)` with
    * ≤ [[M]] rows per src, fully deterministic (every window tie-broken by
    * id, every candidate set a distinct equi-join product).
    */
  def build(spark: SparkSession, dir: String): DataFrame =
    buildFrom(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** [[build]] over an explicit vector frame — the half-corpus seed of the
    * day-2 [[absorb]] lifecycle (the IndexStore.writeFrom contract).
    */
  private[graft] def buildFrom(base: DataFrame): DataFrame = {
    // Init: two independent sign-LSH bands; per-(band,bucket) hash-ordered
    // cap bounds the self-join at 100 TB (cap² pairs per bucket, like the
    // banded near-dup path). Equi-join on the band key — never a cross.
    val bucketed = bandOffsets.zipWithIndex.map { case (off, b) =>
      base.select(col("vec_id"), lit(b).as("band"),
        signLshBucketAt(col("embedding"), off, lshBits).as("bucket"))
    }.reduce(_ unionByName _)
    val wb = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(xxhash64(col("vec_id"), col("band")), col("vec_id"))
    val capped = bucketed.withColumn("hr", row_number().over(wb))
      .filter(col("hr") <= bucketCap)
      .select(col("vec_id"), col("band"), col("bucket"))
    val pairs0 = capped.as("a").join(capped.as("b"), Seq("band", "bucket"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()

    var edges = topK(scorePairs(pairs0, base), buildDegree)
    for (_ <- 1 to descentRounds) {
      // Symmetrize, then propose neighbors-of-neighbors: one equi-join on
      // the shared middle node. ≤ (2·buildDegree)² proposals per node.
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val proposals = und.as("x").join(und.as("y"), col("x.dst") === col("y.src"))
        .filter(col("x.src") =!= col("y.dst"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      val cands = edges.select(col("src"), col("dst"))
        .unionByName(proposals).distinct()
      // localCheckpoint truncates the per-round lineage (the PageRank
      // pattern) — round r never re-runs rounds 1..r-1.
      edges = topK(scorePairs(cands, base), buildDegree).localCheckpoint()
    }
    // Persisted graph keeps each node's M best of the wider working set.
    topK(edges, M)
  }

  /** Score candidate pairs by dot (= cosine on the normalized embeddings):
    * two equi-joins against the corpus on uniform vec_id keys.
    */
  private def scorePairs(pairs: DataFrame, base: DataFrame): DataFrame =
    pairs
      .join(base.select(col("vec_id").as("src"), col("embedding").as("src_emb")), "src")
      .join(base.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")), "dst")
      .withColumn("sim", dot(col("src_emb"), col("dst_emb")))
      .select(col("src"), col("dst"), col("sim"))

  /** Keep each node's k best out-neighbors, ties by dst id. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    VectorSearch.topKPerKey(scored, "src", "sim", "dst", k, rank = "nr")
      .select(col("src"), col("dst"), col("sim"))

  /** Canonical on-disk location for a data dir — pure function of the dir,
    * shared with the DuckDB oracle (the IndexStore.defaultPath contract).
    */
  def defaultPath(dir: String): String =
    Artifact.storeDir("graph_index", dir)

  /** Build and persist the graph: edges carry the dst embedding payload
    * (HNSW's vectors-next-to-links layout) and are range-partitioned +
    * sorted by src, so a probe's IN-list lands in few row groups via
    * parquet min/max skipping.
    */
  def write(spark: SparkSession, dir: String, path: String): Unit =
    build(spark, dir, path, force = true)

  private def build(spark: SparkSession, dir: String, path: String, force: Boolean): Unit =
    Artifact.ensureSource(path, dir, Seq("edges"), force) {
      val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      writeEdges(buildFrom(base), base, path)
    }

  /** Persist an edge frame with dst payloads in the sorted layout and stamp
    * a fresh `_build_id` — shared by the full build and [[absorb]].
    */
  private[graft] def writeEdges(edges: DataFrame, vectors: DataFrame, path: String): Unit = {
    val payloaded = edges.select(col("src"), col("dst"), col("sim"))
      .join(vectors.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")), "dst")
      .select(col("src"), col("dst"), col("sim"), col("dst_emb"))
      .localCheckpoint()
    // Size the range partitioning to the DATA, not the session default:
    // an edge row is ~290 B (two ids + sim + the 64-float payload), so
    // ~230k rows ≈ one healthy 64 MB file. The session default (32) turns
    // a 4 MB test graph into 32 tiny files that every hop's probe scan
    // re-lists and re-opens — pure per-job overhead here, and exactly the
    // small-files problem the lake's compaction story exists for at scale.
    val parts = math.max(1, math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      (payloaded.count() / 230000L).toInt + 1))
    payloaded
      .repartitionByRange(parts, col("src"))
      .sortWithinPartitions(col("src"), col("dst"))
      .write.mode("overwrite").parquet(s"$path/edges")
    Artifact.stampBuildId(path)
  }

  /** Cheap deterministic fingerprint of an entry frame: row count + XOR of
    * per-row hashes over BOTH the id and the embedding payload. Stamped
    * into each level's `_l{n}_from` marker alongside the `_build_id`, so a
    * derivation cached for one entry frame is never served to a caller
    * with a DIFFERENT frame (the absorb walk draws its entries from the
    * store base; the serve path from the data dir). Hashing the vector
    * content, not just the id set, means two frames with identical ids but
    * re-embedded vectors never share a stamp — the fingerprint stands on
    * its own rather than leaning on every write path re-stamping
    * `_build_id`.
    */
  private def entryFp(entries: DataFrame): String = {
    val row = entries.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(vec_id, embedding))"), lit(0L)).as("x")).collect()(0)
    s"${row.getLong(0)}_${row.getLong(1)}"
  }

  /** Derive (once per build + entry frame, `_l{name}_from` marker keyed by
    * `_build_id` and the entry fingerprint) one LEVEL graph of the
    * hierarchical entry descent: edges between the level's sample nodes,
    * proposed from the next-finer level's 1- and 2-hop reachability (a
    * sample node's nearest sample peers are almost always within two hops
    * of it in a converged kNN graph — no NN-Descent re-run, just two
    * equi-joins over that edge list), rescored with the exact dot and
    * trimmed to top-[[M]] per src. Below [[LevelAllPairsBound]] nodes the
    * proposals are EXACT all-pairs instead (bounded ≤ 2²⁰ pairs; small
    * top-of-hierarchy samples are too sparse for reachability to connect).
    * Persisted sorted by src with dst payloads, exactly like the level-0
    * layout, so the level hops prune row groups the same way. Cost:
    * O(sourceEdges) semi-joins once per build — never at query time; the
    * walk replays over the EXPORTED `edges_{name}` verbatim in the DuckDB
    * oracle, so the derivation itself never needs a SQL twin. Concurrent
    * callers (`recallCurve`'s beam walks run from driver Futures) derive
    * once under the marker's lock.
    */
  private[graft] def ensureLevel(spark: SparkSession, path: String, name: String,
                                 entries: DataFrame,
                                 sourceEdges: DataFrame): DataFrame = {
    val stamp = s"${Artifact.BuildId.key(path)} ${entryFp(entries)}"
    Artifact.ensure(path, stamp, Seq(s"edges_$name"), Artifact.levelFrom(name)) {
      val ids = entries.select(col("vec_id"))
      val nEntries = ids.count()
      val proposals =
        if (nEntries <= LevelAllPairsBound) {
          ids.withColumnRenamed("vec_id", "src")
            .crossJoin(ids.withColumnRenamed("vec_id", "dst"))
            .filter(col("src") =!= col("dst"))
        } else {
          val edges = sourceEdges.select(col("src"), col("dst"))
          val fromEntry = edges
            .join(ids.withColumnRenamed("vec_id", "src"), Seq("src"), "left_semi")
          val toEntry = edges
            .join(ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
          val direct = fromEntry
            .join(ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
            .select(col("src"), col("dst"))
          // 2-hop: entry → any mid → entry; volume N·M²/stride² — sublinear
          val twoHop = fromEntry.select(col("src"), col("dst").as("mid"))
            .join(toEntry.select(col("src").as("mid"), col("dst")), "mid")
            .filter(col("src") =!= col("dst"))
            .select(col("src"), col("dst"))
          direct.unionByName(twoHop).distinct()
        }
      val scored = topK(scorePairs(proposals, entries), M)
      val payloaded = scored
        .join(entries.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")), "dst")
        .select(col("src"), col("dst"), col("sim"), col("dst_emb"))
        .localCheckpoint()
      val parts = math.max(1, math.min(
        spark.sessionState.conf.numShufflePartitions,
        (payloaded.count() / 230000L).toInt + 1))
      payloaded
        .repartitionByRange(parts, col("src"))
        .sortWithinPartitions(col("src"), col("dst"))
        .write.mode("overwrite").parquet(s"$path/edges_$name")
    }
    graft.Tables.storeParquet(spark, s"$path/edges_$name")
  }

  /** Layered INSERT — HNSW's level assignment, batched (the reference's
    * HNSW inserts each node at a geometrically-sampled level,
    * `Milvus/stream1.py:117`; here the "coin" is already deterministic:
    * level-n membership is vec_id % (entryStride·l1Factor^(n−1)) = 0).
    * [[absorb]] links new nodes into level 0; without this step the
    * persisted upper-level graphs would stale out under streaming absorb —
    * qualifying arrivals would route searches but never appear in
    * `edges_l1`/`edges_l2`, and the next hier serve would pay a full
    * re-derivation against the changed build id. Instead, for each level
    * graph that EXISTS (never derived ⇒ nothing to maintain — it stays
    * lazy), qualifying new nodes link in incrementally: proposals from the
    * all-pairs cross below [[LevelAllPairsBound]] (bounded ≤ 2²⁰) or the
    * finer level's reachability restricted to the new nodes past it, then
    * the same bidirectional [[relink]] top-M re-rank absorb itself uses —
    * batch-proportional, untouched srcs pass through byte-identical. The
    * `_l{n}_from` marker is re-stamped with the fresh build id + the UNION
    * frame's fingerprint, so the next hierarchical serve over this store
    * hits the cache instead of re-deriving (spec-pinned). Upper levels are
    * maintained by insertion, not re-derived from the relinked level 0 —
    * exactly HNSW's contract (upper layers only route; their recall floor
    * is spec-measured).
    */
  private[graft] def maintainLevels(spark: SparkSession, path: String,
                                    all: DataFrame, newIds: DataFrame): Unit = {
    val buildId = Artifact.BuildId.key(path)
    val levels = Seq(("l1", entryStride.toLong, s"$path/edges"),
      ("l2", entryStride.toLong * l1Factor, s"$path/edges_l1"))
    levels.foreach { case (name, stride, finerPath) =>
      if (new java.io.File(s"$path/edges_$name").exists()) {
        val entries = all.filter(col("vec_id") % stride === 0)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val newLevel = entries.join(newIds.select(col("vec_id")),
          Seq("vec_id"), "left_semi").localCheckpoint()
        // the marker carries the fresh build id + union-frame fingerprint
        // either way: a batch with no qualifying nodes leaves the level
        // graph bit-identical AND still current for the new build
        Artifact.ensure(path, s"$buildId ${entryFp(entries)}",
            marker = Artifact.levelFrom(name), force = true) {
          if (!newLevel.isEmpty) {
            val old = graft.Tables.storeParquet(spark, s"$path/edges_$name")
              .select(col("src"), col("dst"), col("sim"))
            val nEntries = entries.count()
            val proposals =
              if (nEntries <= LevelAllPairsBound)
                newLevel.select(col("vec_id").as("src"))
                  .crossJoin(entries.select(col("vec_id").as("dst")))
                  .filter(col("src") =!= col("dst"))
              else {
                val fine = graft.Tables.storeParquet(spark, finerPath)
                  .select(col("src"), col("dst"))
                val ids = entries.select(col("vec_id"))
                val fromNew = fine.join(
                  newLevel.select(col("vec_id").as("src")), Seq("src"), "left_semi")
                val toEntry = fine.join(
                  ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
                val direct = fromNew
                  .join(ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
                  .select(col("src"), col("dst"))
                val twoHop = fromNew.select(col("src"), col("dst").as("mid"))
                  .join(toEntry.select(col("src").as("mid"), col("dst")), "mid")
                  .filter(col("src") =!= col("dst"))
                  .select(col("src"), col("dst"))
                direct.unionByName(twoHop).distinct()
              }
            val rev = proposals.select(col("dst").as("src"), col("src").as("dst"))
            val linked = relink(old, proposals.unionByName(rev).distinct(), entries)
            val payloaded = linked
              .join(entries.select(col("vec_id").as("dst"), col("embedding").as("dst_emb")), "dst")
              .select(col("src"), col("dst"), col("sim"), col("dst_emb"))
              .localCheckpoint()
            val parts = math.max(1, math.min(
              spark.sessionState.conf.numShufflePartitions,
              (payloaded.count() / 230000L).toInt + 1))
            payloaded
              .repartitionByRange(parts, col("src"))
              .sortWithinPartitions(col("src"), col("dst"))
              .write.mode("overwrite").parquet(s"$path/edges_$name")
          }
        }
      }
    }
  }

  /** Day-2 absorb — add a batch of new vectors to an EXISTING persisted
    * graph without a full NN-Descent rebuild, completing the index
    * lifecycle symmetry with [[IndexStore.absorb]] (the vector half) and
    * `Dedup.bandIndexAbsorb` (the sketch half). This is HNSW's insert
    * algorithm, batched and relational:
    *
    *  1. '''Seed''' — the build's banded sign-LSH blocking over
    *     base ∪ batch, keeping only pairs that TOUCH a new node (the
    *     corpus self-join never re-runs: per-batch cost is
    *     O(batch·bucketCap), independent of corpus size);
    *  2. '''Walk''' — each new vector beam-searches the EXISTING graph
    *     (HNSW insert finds neighbors by descending the structure it
    *     inserts into), contributing ≤ batch·k walk candidates;
    *  3. '''Link''' — new-node out-edges = top-[[M]] of seed ∪ walk
    *     candidates; back-edges: every existing node named by a new edge
    *     re-ranks its old out-edges ∪ the reverse proposals to top-M
    *     (HNSW's bidirectional link step with its degree-bound shrink).
    *
    * Only TOUCHED existing nodes change their rows; everything else
    * passes through. The sorted layout is rewritten here (the sandbox
    * store is MBs); a production lake would copy-on-write the affected
    * `src`-range files only, exactly as [[graft.sources.SortedLayout]]'s
    * zone absorb stages its delta. A fresh `_build_id` is stamped so
    * dependent artifacts re-derive. The quality contract (spec-measured):
    * edge recall of the absorbed graph vs the true top-M neighborhood of
    * the UNION corpus stays within the build's own floor, and a
    * subsequent rebuild re-converges it — absorb trades a few recall
    * points for never touching the corpus, the same drift contract as
    * the IVF absorb.
    */
  def absorb(spark: SparkSession, path: String, base: DataFrame,
             batch: DataFrame): Unit = {
    def t[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      if (sys.env.contains("GRAFT_ABSORB_TIMINGS"))
        println(f"[absorb] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val all = base.select(col("vec_id"), col("embedding"))
      .unionByName(batch.select(col("vec_id"), col("embedding")))
      .localCheckpoint()
    val newIds = batch.select(col("vec_id"))
    // 1. LSH seeds over the union, restricted to pairs touching the batch
    val bucketed = bandOffsets.zipWithIndex.map { case (off, b) =>
      all.select(col("vec_id"), lit(b).as("band"),
        signLshBucketAt(col("embedding"), off, lshBits).as("bucket"))
    }.reduce(_ unionByName _)
    val wb = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(xxhash64(col("vec_id"), col("band")), col("vec_id"))
    val capped = bucketed.withColumn("hr", row_number().over(wb))
      .filter(col("hr") <= bucketCap)
      .select(col("vec_id"), col("band"), col("bucket"))
    // no broadcast hint: the batch is data-sized (AQE picks the strategy)
    val newSide = capped.join(newIds, Seq("vec_id"), "left_semi")
    // Seeds and walk are INDEPENDENT legs (both read-only over the store
    // and the union frame) and each is an eager chain of small jobs, so
    // they run concurrently from driver threads — per-batch wall-clock is
    // max(seeds, walk) instead of the sum.
    // blocking{} — these futures BLOCK on Spark job chains; the global
    // pool is CPU-count-sized, so unmarked long-blocking tasks from
    // overlapping legs (these two plus callers' audit futures) could
    // starve it and serialize the supposedly concurrent work. blocking{}
    // lets the pool grow past the starvation.
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val seedsF = Future(blocking(t("seeds")(newSide.as("a").join(capped.as("b"), Seq("band", "bucket"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct().localCheckpoint())))
    // 2. walk the existing graph with the batch as queries (entries = the
    //    existing corpus's stride sample — the graph's own nodes)
    val entries = base.filter(col("vec_id") % entryStride === 0)
      .select(col("vec_id"), col("embedding"))
    // Insert walk at HALF the serve depth (hops 2, not 4): the walk only
    // SEEDS the link stage — the LSH pairs plus the batch-restricted
    // descent rounds below close whatever neighborhoods a shallow walk
    // misses (the spec's ≥0.95 edge-recall floor is measured with this
    // depth), while each saved hop saves a frontier job + an edge-scan
    // job + a dedupe job per micro-batch.
    // Flat-pinned: the insert walk's entry frame is the STORE base (not the
    // serve path's data-dir sample), so letting it engage the hierarchy
    // would re-derive the level graphs per micro-batch against a different
    // fingerprint — per-batch O(edges) work for a walk whose only job is
    // seeding. Incremental upper-level maintenance is the layered-insert
    // extension, not a cache side effect.
    val walkF = Future(blocking(t("walk")(searchFrom(spark, path, entries,
      batch.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      k = M, beam = 32, hops = 2, maxInlineIds = Tables.MaxInlineIds,
      maxFlatEntries = FlatPinned)
      .select(col("qid").as("src"), col("vec_id").as("dst")).localCheckpoint())))
    val seeds = Await.result(seedsF, Duration.Inf)
    val walk = Await.result(walkF, Duration.Inf)
    // 3. link: forward proposals, reverse proposals, old edges of touched
    //    existing nodes — one top-M re-rank per touched src. seeds and
    //    walk are checkpointed above because `forward` feeds BOTH the
    //    forward and reverse legs — Catalyst does not share subtrees, so
    //    an unmaterialized walk would execute twice.
    val forward = seeds.unionByName(walk).distinct()
    val reverse = forward.select(col("dst").as("src"), col("src").as("dst"))
    val oldEdges = graft.Tables.storeParquet(spark, s"$path/edges")
      .select(col("src"), col("dst"), col("sim"))
    var edges = t("relink0")(relink(oldEdges, forward.unionByName(reverse).distinct(), all))
    // 4. NN-Descent refinement rounds RESTRICTED to batch-touching pairs —
    //    the walk and seeds link new→existing well, but new→new edges can
    //    only meet through a shared neighbor, exactly what a descent
    //    round's neighbor-of-neighbor proposals provide. Pairs between two
    //    existing nodes are excluded: those lists were already converged
    //    by the build and re-rank only against the new arrivals above, so
    //    each round's proposal volume is O(|batch|·M²), not corpus-sized.
    //    (Measured on the half+half spec corpus: link-only plateaus at
    //    edge recall 0.78; two restricted rounds recover the build's ≥0.95
    //    floor.)
    val newIdSet = batch.select(col("vec_id")).localCheckpoint()
    for (_ <- 1 to absorbRounds) {
      val und = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      // Batch-restricted proposals with the BATCH side DRIVING the join:
      // a full und⋈und before the touching-the-batch filter shuffles the
      // corpus-sized edge list every round (measured at sf1: the one
      // super-linear shuffle-byte term of the streaming absorb, slope
      // 1.32). Because und is SYMMETRIC by construction, the kept set
      // {(a,b) : path a–m–b, a new OR b new} equals P ∪ swap(P) for
      // P = {(a,b) : a new, path a–m–b} — and P comes from ONE join
      // whose left side (`undNew`, the new nodes' und rows) is
      // batch-sized, so AQE broadcasts it and the corpus side is only
      // scanned. Per-round shuffle is batch-proportional, as the
      // O(|batch|·M²) claim above requires.
      val undNew = und.join(newIdSet.withColumnRenamed("vec_id", "src"),
        Seq("src"), "left_semi")
      val p = undNew.as("x").join(und.as("y"), col("x.dst") === col("y.src"))
        .filter(col("x.src") =!= col("y.dst"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      val prop = p
        .unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      edges = t("round")(relink(edges, prop, all))
    }
    t("writeEdges")(writeEdges(edges, all, path))
    // HNSW's layered insert: keep any EXISTING upper-level graphs current
    // (qualifying new nodes link in; markers re-stamp to the fresh build).
    // Free when no level graph was ever derived — two existence checks.
    t("levels")(maintainLevels(spark, path, all, newIds))
  }

  /** Fold a proposal set into an edge list: every proposed src re-ranks its
    * old out-edges ∪ proposals to top-[[M]]; untouched srcs pass through.
    * localCheckpointed — the caller loops rounds and finally rewrites the
    * path the old edges were read from.
    */
  private def relink(oldEdges: DataFrame, proposals: DataFrame,
                     vectors: DataFrame): DataFrame = {
    val touched = proposals.select(col("src")).distinct()
    val touchedOld = oldEdges.join(touched, Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
    val rescored = topK(
      scorePairs(proposals.unionByName(touchedOld).distinct(), vectors), M)
    val untouched = oldEdges.join(touched, Seq("src"), "left_anti")
    untouched.unionByName(rescored).localCheckpoint()
  }

  /** Build only if the artifacts don't exist yet or were built from
    * different source content (`_src_fp_*` mismatch — same staleness
    * contract as IndexStore.ensure: regenerated testdata must invalidate
    * the persisted graph, not be beam-searched through it).
    */
  def ensure(spark: SparkSession, dir: String, path: String): Unit =
    graft.Profiling.timed("GraphIndex.ensure")(build(spark, dir, path, force = false))

  /** Fixed-hop beam search over the persisted graph — the deterministic
    * batch unrolling of HNSW's ef-bounded walk (`stream1.py:161-162`,
    * ef=128 ↦ beam here):
    *
    *  1. hop 0 scores the bounded entry sample against each query
    *     (broadcast cross of ≤ N/stride rows — the "upper layer" descent);
    *  2. each hop takes the beam best visited per query (window rank);
    *     when nq·beam fits Tables.MaxInlineIds it collects the node ids
    *     (bounded driver metadata — same contract as IndexStore's probed
    *     cell ids) and inlines them as an IN-list so the sorted edge scan
    *     prunes row groups, otherwise the frontier stays distributed and
    *     broadcast-joins the edges; either way it scores the ≤ nq·beam·M
    *     new candidates;
    *  3. visited accumulates with a (qid, vec_id) max-sim dedupe and is
    *     localCheckpointed per hop, so hop h never re-runs hops 0..h-1.
    *
    * Self-matches stay in the frontier (their neighborhoods are exactly
    * where the answers live) and are excluded only from the final top-k,
    * mirroring knnExact's self-exclusion.
    */
  def search(spark: SparkSession, dir: String, path: String, queries: DataFrame,
             k: Int = 5, beam: Int = 32, hops: Int = 4,
             maxInlineIds: Int = Tables.MaxInlineIds,
             tombstones: Option[DataFrame] = None,
             maxFlatEntries: Long = HierFlatBound): DataFrame =
    searchFrom(spark, path, Tables.embeddings(spark, dir)
        .filter(col("vec_id") % entryStride === 0)
        .select(col("vec_id"), col("embedding")),
      queries, k, beam, hops, maxInlineIds, tombstones, maxFlatEntries)

  /** [[search]] with an explicit entry frame — [[absorb]]'s walk draws its
    * entries from the store's own base rather than a data dir.
    */
  private[graft] def searchFrom(spark: SparkSession, path: String, entries: DataFrame,
                                queries: DataFrame, k: Int, beam: Int, hops: Int,
                                maxInlineIds: Int,
                                tombstones: Option[DataFrame] = None,
                                maxFlatEntries: Long = HierFlatBound): DataFrame = {
    import spark.implicits._
    val edges = graft.Tables.storeParquet(spark, s"$path/edges")
    // The query side is materialized ONCE (eager localCheckpoint) and
    // stays DISTRIBUTED: it is reused by every hop, but never collected —
    // the search batch is bounded in the serve path, while [[absorb]]
    // walks an INGEST batch through here, and a driver-side collect of a
    // corpus-scale batch is exactly the anti-pattern the MaxInlineIds
    // contract exists to prevent. The checkpointed count is the one
    // driver scalar.
    val qDF = queries.select(col("qid"), col("qvec")).localCheckpoint(eager = false)
    val nq = qDF.count()
    // Bounded-inline-id contract (Tables.MaxInlineIds): the frontier is
    // ≤ nq·beam (qid, src) pairs per hop. When that fits the bound it is
    // collected and inlined so the sorted edge scan prunes row groups via
    // the IN-list; past it (reference batches 30k queries ⇒ ~10⁶ ids) the
    // frontier stays distributed and the hop is an equi-join on src —
    // same rows, no literal explosion in the plan (no broadcast hint:
    // the frontier is data-sized there, AQE picks the strategy).
    val inlineFrontier = nq * beam <= maxInlineIds
    // The query side is hint-broadcast only under the same bounded
    // contract (serve-path batches); an ingest-scale batch joins unhinted
    // and AQE picks the strategy.
    val qJoin = if (inlineFrontier) broadcast(qDF) else qDF
    // The entry sample is a 1/stride slice of the CORPUS — it grows
    // linearly with the data, so it gets the same bounded-contract
    // treatment as the query side: hint-broadcast only while it actually
    // fits the inline bound, otherwise leave it unhinted and let AQE pick
    // (the checkpointed count is the one extra driver scalar).
    val eDF = entries.select(col("vec_id"), col("embedding")).localCheckpoint(eager = false)
    val eCount = eDF.count()

    // One beam-expansion hop over an arbitrary edge frame — shared by the
    // level-1 descent and the level-0 walk (identical frontier/inline/join
    // mechanics at both levels).
    def hop(edgeFrame: DataFrame, visited0: DataFrame): DataFrame = {
      val frontierDF = VectorSearch.topKPerKey(visited0, "qid", "sim", "vec_id", beam, rank = "fr")
        .select(col("qid"), col("vec_id"))
      val joined =
        if (inlineFrontier) {
          val frontier = frontierDF.as[(Long, Long)].collect().toSeq
          val fIds = frontier.map(_._2).distinct.sorted
          val fDF = spark.createDataset(frontier).toDF("qid", "src")
          edgeFrame.filter(col("src").isin(fIds: _*)).join(broadcast(fDF), "src")
        } else
          edgeFrame.join(
            frontierDF.withColumnRenamed("vec_id", "src").localCheckpoint(false), "src")
      val scored = joined
        .join(qJoin, "qid")
        .withColumn("sim", dot(col("qvec"), col("dst_emb")))
        .select(col("qid"), col("dst").as("vec_id"), col("sim"))
      visited0.unionByName(scored)
        .groupBy(col("qid"), col("vec_id")).agg(max(col("sim")).as("sim"))
        // lazy: the barrier (bounded per-hop lineage) is in the plan either
        // way; eager=false folds the materialization into the next hop's
        // frontier collect instead of a dedicated job per hop
        .localCheckpoint(eager = false)
    }
    def entryCross(e: DataFrame, bounded: Boolean): DataFrame =
      qDF.crossJoin(if (bounded) broadcast(e) else e)
        .withColumn("sim", dot(col("qvec"), col("embedding")))
        .select(col("qid"), col("vec_id"), col("sim"))
        .localCheckpoint(eager = false)

    // v0: flat below the bound (the cross is exhaustive AND cheaper there);
    // hierarchical descent past it — cross a geometrically smaller sample,
    // walk the persisted level graphs downward, and let the beam best of
    // each level seed the next (HNSW's upper-layer descent,
    // `stream1.py:117`'s structure). The stack recurses: level 1 is the
    // 1/l1Factor sample of the entries with edges derived from the level-0
    // graph's reachability; level 2 is the 1/l1Factor sample OF THAT with
    // edges derived from `edges_l1` the same way ([[ensureLevel]]) — so the
    // entry cross (the one corpus-proportional serve term) shrinks
    // l1Factor² ≈ 1000× and every remaining term is bounded by
    // nq·beam·M per hop. Each level engages only past [[maxFlatEntries]]
    // (the cross is cheaper AND exhaustive below it); `knn_graph_hier`
    // forces 0, exercising the full three-level descent at every sf.
    val coarse =
      if (eCount > maxFlatEntries)
        eDF.filter(col("vec_id") % (entryStride.toLong * l1Factor) === 0)
          .localCheckpoint(eager = false)
      else eDF
    val coarseCount = if (coarse eq eDF) eCount else coarse.count()
    var visited =
      if (eCount > maxFlatEntries && coarseCount > 0) {
        val l1 = ensureLevel(spark, path, "l1", eDF, edges)
        val coarse2 =
          if (coarseCount > maxFlatEntries)
            coarse.filter(
              col("vec_id") % (entryStride.toLong * l1Factor * l1Factor) === 0)
              .localCheckpoint(eager = false)
          else coarse
        val coarse2Count = if (coarse2 eq coarse) coarseCount else coarse2.count()
        var v =
          if (coarseCount > maxFlatEntries && coarse2Count > 0) {
            val l2 = ensureLevel(spark, path, "l2", coarse, l1)
            var v2 = entryCross(coarse2, coarse2Count <= maxInlineIds)
            for (_ <- 1 to l1Hops) v2 = hop(l2, v2)
            v2
          } else entryCross(coarse, coarseCount <= maxInlineIds)
        for (_ <- 1 to l1Hops) v = hop(l1, v)
        v
      } else entryCross(eDF, eCount <= maxInlineIds)
    for (_ <- 1 to hops) visited = hop(edges, visited)
    // DELETE semantics (HNSW tombstoning, the reference's delete-by-PK on
    // its HNSW collection, `Milvus/stream1.py:313-315` → search
    // `:161-162`): the beam WALK above traverses dead nodes unchanged —
    // deleting a hub must not disconnect its neighborhood, exactly as
    // HNSW keeps deleted nodes' links navigable — and only the RESULT set
    // excludes them, with the anti-join BELOW the final top-k so k fills
    // from live rows (never a post-filtered short top-k). Same shape as
    // IndexStore.searchTombstoned; between compactions the tombstone set
    // is deletes-sized — and the broadcast is COUNTED, not assumed
    // (Tables.boundedBroadcast): a bulk delete past the inline bound
    // degrades to a shuffled anti-join instead of forcing a driver-side
    // multi-GB hash build.
    val live = tombstones match {
      case Some(t) =>
        visited.join(graft.Tables.boundedBroadcast(t.select(col("vec_id"))),
          Seq("vec_id"), "left_anti")
      case None => visited
    }
    // Past the inline bound the query side is an ingest batch ([[absorb]]),
    // so the final top-k merges hash-partitioned, not in one task.
    VectorSearch.rankTopK(live.filter(col("vec_id") =!= col("qid")), k, "sim",
      VectorSearch.simMicroCols, single = inlineFrontier)
  }

  /** The named `knn_graph` query: ensure the persisted graph exists for
    * `dir`, then beam-search the reference query batch. First execution
    * pays the NN-Descent build (HNSW `index build`, `stream1.py:117`);
    * every later execution is search-only — and the DuckDB oracle replays
    * the identical unrolled beam walk in pure SQL over the exported edges.
    */
  def searchQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    // Flat-pinned: this query's oracle replays the flat entry cross, and
    // lake_sql_graph's row-identity contract shares it (see [[FlatPinned]]).
    search(spark, dir, path, VectorSearch.querySet(spark, dir, 5),
      maxFlatEntries = FlatPinned)
  }

  /** The named `knn_graph_hier` query: the beam walk with the hierarchical
    * entry descent FORCED (maxFlatEntries = 0), so the three-level path —
    * top cross → [[l1Hops]] hops over the persisted level-2 graph →
    * [[l1Hops]] hops over the level-1 graph → level-0 walk — is exercised
    * and oracle-checked at every sf, not just past [[HierFlatBound]] where
    * the serve path engages each level on its own. The DuckDB oracle
    * replays the identical unrolled three-level walk over the exported
    * `edges_l2` + `edges_l1` + `edges`.
    */
  def searchHierQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    search(spark, dir, path, VectorSearch.querySet(spark, dir, 5),
      maxFlatEntries = 0L)
  }

  /** The named `knn_graph_batch` query — the beam walk at REFERENCE batch
    * scale (the reference searches batches up to 30 000 queries,
    * `FAISS/PlainDemo/pipeline.py:338-340`; every other graph serve query
    * runs nq=5). nq=400 at beam 32 puts the per-hop frontier at
    * nq·beam = 12 800 > [[Tables.MaxInlineIds]], so this query exercises
    * the NON-inline route: the frontier stays a distributed frame and each
    * hop equi-joins the edge table instead of collecting ids into a
    * literal IN-list — the exact path a 30k-query production batch takes,
    * now oracle-checked (the DuckDB replay is the same unrolled walk with
    * the wider query CTE; row-identity is route-independent by
    * construction, and this query pins that). Flat-pinned like the other
    * named oracle queries — the batch dial and the hierarchy dial are
    * orthogonal, each exercised by its own query.
    */
  def searchBatchQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    search(spark, dir, path, VectorSearch.querySet(spark, dir, 400),
      maxFlatEntries = FlatPinned)
  }

  /** The named `graph_tombstone` query — DELETE on the graph index,
    * completing the lifecycle symmetry with [[IndexStore.searchTombstoned]]
    * (the reference deletes by PK from its HNSW collection and subsequent
    * searches exclude the victims, `Milvus/stream1.py:313-315` → search
    * `:161-162`). Tombstones are the delete set [[Tables.deleted]], as in
    * `knn_tombstone`; the beam walk still TRAVERSES dead nodes
    * (HNSW semantics — connectivity through a deleted hub survives), only
    * the final top-k excludes them, below the TopK node so ranks stay
    * dense over live rows. Oracle: the unrolled-walk replay over the
    * exported edges minus the tombstone set.
    */
  def searchTombstonedQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    search(spark, dir, path, VectorSearch.querySet(spark, dir, 5),
      tombstones = Some(Tables.deletedVecIds(spark, dir)), maxFlatEntries = FlatPinned)
  }

  /** Recall-vs-beam curve — the graph index's ef dial measured in-engine,
    * completing the eval symmetry with [[IndexStore.recallSweep]] (the
    * IVF nprobe curve): the reference exposes exactly this knob as HNSW's
    * `ef` (`Milvus/stream1.py:161-162`, ef=128), and tuning it requires a
    * measured curve, not a hand-set constant. Each level pays one real
    * beam walk (unlike the IVF curve there is no membership shortcut —
    * a narrower beam walks a DIFFERENT frontier, not a prefix); the
    * levels' walks and the exact leg are all bounded nq·k frames, so the
    * measurement cost is |beams| serve-path searches. The walks are
    * INDEPENDENT (separate frontiers over a read-only store), and each
    * one is a chain of small eager hops (per-hop localCheckpoint) that
    * leaves most of the cluster idle — so the levels and the exact leg
    * run CONCURRENTLY from driver threads and the scheduler interleaves
    * their hop jobs: wall-clock ≈ the widest beam's walk, not the sum.
    */
  def recallCurve(spark: SparkSession, dir: String, k: Int = 5,
                  beams: Seq[Int] = Seq(4, 8, 32)): DataFrame = {
    // blocking{}: each leg blocks on an eager Spark job chain — see the
    // absorb futures' starvation note.
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val q = VectorSearch.querySet(spark, dir, 5)
    val exactF = Future(blocking(VectorSearch.knnExact(spark, dir, k, 5)
      .select(col("qid"), col("vec_id")).localCheckpoint()))
    val perF = beams.map { b =>
      Future(blocking(search(spark, dir, path, q, k = k, beam = b,
        maxFlatEntries = FlatPinned)
        .select(lit(b.toLong).as("beam"), col("qid"), col("vec_id"))
        .localCheckpoint()))
    }
    val exact = Await.result(exactF, Duration.Inf)
    val nExact = exact.count()
    val per = perF.map(Await.result(_, Duration.Inf)).reduce(_ unionByName _)
    val found = per.join(exact, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("beam")).agg(count(lit(1)).as("n_found"))
    // literal level frame so a zero-recall beam still reports its row
    val levels = spark.range(1).select(
      explode(lit(beams.map(_.toLong).toArray)).as("beam"))
    levels.join(found, Seq("beam"), "left")
      .select(col("beam"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        lit(nExact).as("n_exact"))
      .withColumn("recall_micro", expr("n_found * 1000000 DIV n_exact"))
      .orderBy(col("beam"))
  }

  /** Self-tuning beam search — [[IndexStore.autoTuneSearch]]'s ef twin:
    * pick the SMALLEST measured beam whose recall@k clears the target
    * ([[recallCurve]]); unlike the IVF dial, recall at the widest beam is
    * NOT 1.0 by construction (the graph is approximate at any ef), so an
    * infeasible target falls back to the widest measured level — the
    * honest answer, surfaced in the `beam` audit column the oracle
    * recomputes. The graph curve costs |beams| real walks, so the
    * decision is derived ONCE PER BUILD and recorded in a `_tuned_beam`
    * marker keyed by the store's `_build_id` (the `graph_compact` /
    * PqStore cascade convention): re-executions pay one marker read plus
    * the serve walk at the chosen knob.
    */
  def autoTuneSearch(spark: SparkSession, dir: String, k: Int = 5,
                     targetRecallMicro: Long = 900000L,
                     beams: Seq[Int] = Seq(4, 8, 32)): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val beam = Artifact.remember(path, Artifact.tunedBeam(targetRecallMicro),
        Artifact.BuildId.key(path)) {
      val curve = recallCurve(spark, dir, k, beams).collect()
      curve.filter(_.getAs[Long]("recall_micro") >= targetRecallMicro)
        .map(_.getLong(0)).sorted.headOption
        .getOrElse(curve.map(_.getLong(0)).max).toString
    }.toInt
    search(spark, dir, path, VectorSearch.querySet(spark, dir, 5), k, beam = beam,
      maxFlatEntries = FlatPinned)
      .withColumn("beam", lit(beam.toLong))
  }

  /** Offline compaction of a tombstoned graph — the maintenance half of
    * [[searchTombstonedQuery]], completing the delete lifecycle the same
    * way [[IndexStore.rebuild]] completes `knn_tombstone`'s: fold the
    * tombstones in physically and turn query-time filtering back into a
    * plain walk. This is HNSW's delete-repair, relational:
    *
    *  1. '''Drop''' — every edge whose src OR dst is dead;
    *  2. '''Bridge''' — for each dead node d, its live IN-neighbors
    *     propose links to d's live OUT-neighbors (the classic repair:
    *     removing a hub must not sever the paths that ran through it —
    *     its neighborhood gets directly reconnected). Bridge volume is
    *     in(d)·out(d) per dead node, deletes-proportional, never a
    *     corpus self-join;
    *  3. '''Relink''' — every bridged src re-ranks old-live ∪ bridge
    *     candidates to top-[[M]] (the absorb's own [[relink]] fold);
    *     untouched live nodes pass through byte-identical.
    *
    * Writes the repaired graph to `compactPath` with a fresh `_build_id`;
    * the tombstoned store itself is untouched (offline job, like the IVF
    * rebuild). `vectors` supplies live embeddings for the re-rank — the
    * caller's corpus frame, exactly as [[absorb]] takes base ∪ batch.
    */
  def compactTombstones(spark: SparkSession, path: String, compactPath: String,
                        tombstones: DataFrame, vectors: DataFrame): Unit = {
    // The dead set is COUNTED once and hint-broadcast only within the
    // inline bound (Tables.boundedBroadcast — one localCheckpoint shared
    // by all six joins below): a corpus-proportional bulk delete degrades
    // every leg to a shuffled join instead of forcing a driver-side
    // multi-GB hash relation.
    val dead = graft.Tables.boundedBroadcast(tombstones.select(col("vec_id")))
    val edges = graft.Tables.storeParquet(spark, s"$path/edges")
      .select(col("src"), col("dst"), col("sim"))
    val live = edges
      .join(dead.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .join(dead.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"), col("sim"))
      .localCheckpoint()
    // in-edges of dead nodes from live srcs ⋈ out-edges of dead nodes to
    // live dsts, on the shared dead middle — deletes-sized both sides
    val intoDead = edges
      .join(dead.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
      .join(dead.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .select(col("src"), col("dst").as("mid"))
    val outOfDead = edges
      .join(dead.withColumnRenamed("vec_id", "src"), Seq("src"), "left_semi")
      .join(dead.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_anti")
      .select(col("src").as("mid"), col("dst"))
    val bridges = intoDead.join(outOfDead, "mid")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val liveVecs = vectors.select(col("vec_id"), col("embedding"))
      .join(dead, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    writeEdges(relink(live, bridges, liveVecs), liveVecs, compactPath)
  }

  /** The named `graph_compact` query: compact the canonical graph minus
    * the `graph_tombstone` delete set into a sibling store, then beam-walk
    * the compacted graph with the standard query batch — no tombstone
    * filter anywhere, the dead nodes are physically gone. Entries come
    * from the LIVE corpus sample; the `n_nodes` audit column (every live
    * node keeps a neighbor list through the repair) is recomputed by the
    * oracle from the SOURCE table.
    */
  def compactQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val cpt = path + "_cpt"
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // Build-once / search-many (the knn_graph convention; compaction is
    // deterministic given the source store + delete set): `_built_from`
    // records WHICH canonical build this compaction folded — a rebuilt
    // canonical store invalidates it, exactly PqStore's `_ivf_build_id`
    // cascade. Re-executions pay only the staleness check + the walk.
    Artifact.ensure(cpt, Artifact.BuildId.key(path), Seq("edges")) {
      compactTombstones(spark, path, cpt, Tables.deletedVecIds(spark, dir), emb)
    }
    val liveVecs = emb.filter(!Tables.deleted(col("vec_id")))
    val nNodes = graft.Tables.storeParquet(spark, s"$cpt/edges").select(col("src")).distinct().count()
    searchFrom(spark, cpt,
      liveVecs.filter(col("vec_id") % entryStride === 0),
      VectorSearch.querySet(spark, dir, 5), k, beam = 32, hops = 4,
      maxInlineIds = Tables.MaxInlineIds, maxFlatEntries = FlatPinned)
      .withColumn("n_nodes", lit(nNodes))
  }

  /** Where the even-vec_id half graph persists — the day-1 store the
    * streaming absorb run ([[graft.streaming.StreamOps.streamGraphAbsorb]])
    * clones per run, mirroring [[IndexStore.ensureCorpusHalf]].
    */
  def corpusHalfPath(dir: String): String = defaultPath(dir) + "_half"

  /** Build (once per source generation) the half-corpus graph the
    * streaming absorb starts from: NN-Descent over even vec_ids only,
    * stamped with the `_src_fp` staleness marker.
    */
  def ensureHalf(spark: SparkSession, dir: String): String = {
    val path = corpusHalfPath(dir)
    Artifact.ensureSource(path, dir, Seq("edges")) {
      val even = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      writeEdges(buildFrom(even), even, path)
    }
    path
  }

  /** The `lake_sql_graph` named query — the SQL route to graph search,
    * closing the surface gap `lake_sql_ann` closed for the IVF store: the
    * persisted edge list and the vector table register as catalog views
    * (`graph_edges`, `graph_vectors`), and the fixed-hop beam walk runs
    * as per-hop SQL statements ([[sqlChainWalk]]: frontier window →
    * edge-expansion join scoring `dot(qvec, dst_emb)` on the SQL-injected
    * codegen kernel → max-sim dedupe), exactly the shape the DuckDB
    * oracle already replays, so the oracle is SHARED with `knn_graph`
    * verbatim. No recursion needed: HNSW's ef-walk was already unrolled
    * to a deterministic hop count, which is what makes it SQL at all —
    * that closure note is now a query, not a caveat. Query vectors inline as double literals
    * narrowed to float (bit-exact round-trip), mirroring `lake_sql_ann`.
    * Row-identical to the DataFrame path: same kernel, same window
    * tie-breaks, same payload floats. Each hop's frontier CTE carries a
    * `BROADCAST` hint — it is ≤ nq·beam rows (bounded serve-path
    * metadata, the same contract as the DataFrame walk's inline
    * frontier), and without the hint Catalyst has no stats for the CTE
    * and SMJ-shuffles the corpus-sized edge table once per hop (measured
    * at sf1: shuffle-byte slope 2.46 unhinted → edges scan-only hinted).
    */
  def sqlGraphQuery(spark: SparkSession, dir: String,
                    k: Int = 5, beam: Int = 32, hops: Int = 4): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    // FLAT-PINNED, like its declared row-identity twin `knn_graph`
    // ([[FlatPinned]]): the oracle text IS the contract, so the SQL
    // surface must never silently switch semantics past a corpus bound —
    // the previous adaptive branch here diverged from knn_graph past
    // [[HierFlatBound]] AND paid a corpus-proportional entry count() per
    // call just to pick the branch. A SQL user who wants the scale-out
    // hierarchical walk has its own named, oracle-checked query
    // (`lake_sql_graph_hier` / [[sqlGraphHierQuery]]).
    //
    // Executed as the same per-hop materialized CHAIN as the hier route
    // ([[sqlChainWalk]]): the previous one-text CTE form re-executed every
    // upstream hop — Catalyst inlines deterministic CTEs, each v_h is
    // referenced twice (frontier window + union fold), so the physical
    // plan duplicated v0 2^hops = 16× (732 nodes, 78 Exchanges measured)
    // and the corpus-proportional
    // entry cross was paid 16 times at ANY scale. Hop mechanics are
    // unchanged, so the result stays row-identical to `knn_graph` and the
    // shared DuckDB replay.
    SqlViews.ensureParquetView(spark, "graph_edges", s"$path/edges")
    SqlViews.ensureParquetView(spark, "graph_vectors", s"$dir/embeddings.parquet")
    sqlChainWalk(spark, dir, "graft_flat",
      s"""SELECT q.qid, c.vec_id, dot(q.qvec, c.embedding) AS sim
         |FROM graft_flat_q q CROSS JOIN (
         |  SELECT vec_id, embedding FROM graph_vectors
         |  WHERE vec_id % $entryStride = 0) c""".stripMargin,
      _ => "graph_edges", hops, k, beam)
  }

  /** Per-hop materialized SQL beam walk shared by the flat and
    * hierarchical SQL routes: the query batch registers as a literal-row
    * view, v0 comes from the caller, and every hop is ONE SQL statement
    * (frontier window → BROADCAST-hinted edge expansion → max-sim union
    * fold) over the previous hop's eager-checkpoint-backed view. The
    * materialization barrier is load-bearing twice over: (1) Spark does
    * not materialize multi-referenced CTEs, so a one-text chain re-runs
    * all upstream hops per reference (2^hops fan-out); (2) the re-wrap of
    * the checkpointed RDD strips stale LogicalRDD constraints — the next
    * hop references the view TWICE and DeduplicateRelations + Union's
    * constraint rewrite crash on inherited exprIds otherwise (measured,
    * see git history). `CACHE TABLE` is deliberately NOT used: its cache
    * lookup silently missed on plan canonicalization and re-executed the
    * whole chain.
    */
  private def sqlChainWalk(spark: SparkSession, dir: String, prefix: String,
                           v0Sql: String, edgeViewAt: Int => String,
                           totalHops: Int, k: Int, beam: Int): DataFrame = {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${prefix}_q AS ${sqlQueryRows(spark, dir)}")
    def barrier(df: DataFrame): DataFrame = {
      // EAGER: the next hop references the view twice (frontier window +
      // union fold) through CONCURRENT stages — a lazy barrier would be
      // computed by both racers, doubling the corpus-proportional v0 term
      val d = df.localCheckpoint()
      spark.createDataFrame(d.rdd, d.schema)
    }
    var v = barrier(spark.sql(v0Sql))
    (1 to totalHops).foreach { h =>
      v.createOrReplaceTempView(s"${prefix}_v${h - 1}")
      v = barrier(spark.sql(
        s"""WITH f AS (SELECT qid, vec_id FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS fr
           |  FROM ${prefix}_v${h - 1}) WHERE fr <= $beam),
           |n AS (SELECT /*+ BROADCAST(f) */
           |      f.qid, x.dst AS vec_id, dot(q.qvec, x.dst_emb) AS sim
           |      FROM f JOIN ${edgeViewAt(h)} x ON x.src = f.vec_id
           |      JOIN ${prefix}_q q ON q.qid = f.qid)
           |SELECT qid, vec_id, max(sim) AS sim
           |FROM (SELECT * FROM ${prefix}_v${h - 1} UNION ALL SELECT * FROM n)
           |GROUP BY 1, 2""".stripMargin))
    }
    v.createOrReplaceTempView(s"${prefix}_v$totalHops")
    spark.sql(
      s"""SELECT qid, vec_id, rank, CAST(FLOOR(sim * 1000000.0D) AS BIGINT) AS sim_micro
         |FROM (SELECT qid, vec_id, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
         |      FROM ${prefix}_v$totalHops WHERE vec_id <> qid)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
  }

  /** The nq=5 reference query batch inlined as SQL literal rows — doubles
    * narrowed back to float bit-exactly, mirroring `lake_sql_ann`. Shared
    * by the flat and hierarchical SQL walks.
    */
  private def sqlQueryRows(spark: SparkSession, dir: String): String =
    VectorSearch.querySet(spark, dir, 5).orderBy(col("qid")).collect().map { r =>
      val vec = r.getSeq[Float](1).map(f => s"${f}D").mkString(", ")
      s"SELECT CAST(${r.getLong(0)} AS BIGINT) AS qid, " +
        s"CAST(array($vec) AS ARRAY<FLOAT>) AS qvec"
    }.mkString("\nUNION ALL\n")

  /** The `lake_sql_graph_hier` named query: the full THREE-level hierarchical walk
    * expressed in SQL over the persisted level graphs, closing the
    * SQL-surface gap the r16 flat pinning left (past [[HierFlatBound]] a
    * SQL user previously got a different plan than the engine default).
    * The level graphs are [[ensureLevel]]-derived first (cache-shared
    * with `knn_graph_hier` — same path, same entry frames, same
    * fingerprint stamps), registered as views, and the descent runs as a
    * CHAIN of per-hop SQL statements, each materialized (eager
    * localCheckpoint) and re-registered as the next hop's input view —
    * the engine-side analogue of the MATERIALIZED keyword the DuckDB
    * replay already needs for the same reason. The one-text CTE form is
    * NOT used here, measured: each `v_h` is referenced twice (the
    * frontier window and the union fold), Spark does not materialize
    * CTEs, and at 2·[[l1Hops]] + hops = 8 hops the re-execution fan-out
    * read 46 s at bench config vs ~3 s materialized (the 4-hop flat text
    * stays ONE statement — its fan-out is bounded and its one-text
    * contract is anchored). `CACHE TABLE v_h AS` was the first
    * materialization attempt and is deliberately NOT used: the final
    * select's cache lookup silently missed (plan canonicalization) and
    * re-executed the whole un-materialized chain — a checkpoint-backed
    * view cannot miss. Hop mechanics are identical to the flat text:
    * window tie-breaks, max-sim dedupe, BROADCAST-hinted bounded
    * frontier — so the result is row-identical to `knn_graph_hier`'s
    * forced DataFrame descent and the DuckDB three-level replay is
    * SHARED with it verbatim.
    */
  def sqlGraphHierQuery(spark: SparkSession, dir: String,
                        k: Int = 5, beam: Int = 32, hops: Int = 4): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val edges = graft.Tables.storeParquet(spark, s"$path/edges")
    val eDF = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % entryStride === 0)
      .select(col("vec_id"), col("embedding")).localCheckpoint(eager = false)
    val l1 = ensureLevel(spark, path, "l1", eDF, edges)
    val coarse = eDF
      .filter(col("vec_id") % (entryStride.toLong * l1Factor) === 0)
      .localCheckpoint(eager = false)
    ensureLevel(spark, path, "l2", coarse, l1)
    SqlViews.ensureParquetView(spark, "graph_edges", s"$path/edges")
    SqlViews.ensureParquetView(spark, "graph_edges_l1", s"$path/edges_l1")
    SqlViews.ensureParquetView(spark, "graph_edges_l2", s"$path/edges_l2")
    SqlViews.ensureParquetView(spark, "graph_vectors", s"$dir/embeddings.parquet")
    val coarseStride = entryStride.toLong * l1Factor * l1Factor
    val totalHops = 2 * l1Hops + hops
    sqlChainWalk(spark, dir, "graft_hier",
      s"""SELECT q.qid, c.vec_id, dot(q.qvec, c.embedding) AS sim
         |FROM graft_hier_q q CROSS JOIN (
         |  SELECT vec_id, embedding FROM graph_vectors
         |  WHERE vec_id % $coarseStride = 0) c""".stripMargin,
      h => if (h <= l1Hops) "graph_edges_l2"
           else if (h <= 2 * l1Hops) "graph_edges_l1"
           else "graph_edges",
      totalHops, k, beam)
  }

  /** The `graph_degree_stats` named query: out-degree histogram of the
    * persisted graph — the index-card the reference prints for its HNSW
    * build. Oracle-checked against the same exported edge list.
    */
  def degreeStats(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    graft.Tables.storeParquet(spark, s"$path/edges")
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))
  }
}
