package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorSearch
import graft.sources.IndexStore

/** The persisted clustered index: layout, partition pruning, and
  * search-result agreement with the in-memory path.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private var tmpPath: Option[String] = None

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    tmpPath = Some(p)
    IndexStore.write(spark, sfDir, p)
    p
  }

  override def afterAll(): Unit =
    try (tmpPath ++ tmpSegRoot).foreach(p => graft.streaming.StreamOps.rmTree(new java.io.File(p)))
    finally super.afterAll()

  test("clustered layout: one directory per cell, all rows present") {
    val dirs = new java.io.File(s"$path/rows").listFiles()
      .filter(_.getName.startsWith("cell_id=")).length
    assert(dirs > 1, "expected multiple cell partitions")
    val (rows, _) = IndexStore.read(spark, path)
    assert(rows.count() == Tables.embeddings(spark, sfDir).count())
  }

  test("cell filter prunes partitions at the scan") {
    val (rows, _) = IndexStore.read(spark, path)
    val p = rows.filter($"cell_id" === 3).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell_id"), p.take(2000))
  }

  test("search over the persisted index returns k hits per query") {
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val hits = IndexStore.search(spark, path, q, k = 5, nprobe = 10)
    val perQ = hits.groupBy($"qid").count().select($"count").as[Long].collect()
    assert(perQ.forall(_ == 5L))
  }

  test("pruned search result == unpruned persisted search result") {
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val a = IndexStore.search(spark, path, q, k = 5, nprobe = 10).collect().toSeq
    val b = IndexStore.searchPruned(spark, path, q, k = 5, nprobe = 10).collect().toSeq
    assert(a == b, "pruning the scan must not change the result set")
  }

  test("pruned range search: subset of exact range, exact at nprobe=nlist, radius respected") {
    val q = VectorSearch.querySet(spark, sfDir, 5)
    val thr = 150000L
    val pruned = IndexStore.rangeSearchPruned(spark, path, q, thresholdMicro = thr, nprobe = 2)
      .select($"qid", $"vec_id", $"sim_micro").cache()
    assert(pruned.filter($"sim_micro" < thr).count() == 0, "radius respected")
    // exact range over the full base (the unprobed reference)
    val exact = VectorSearch.rangeSearch(spark, sfDir, nq = 5, thresholdMicro = thr)
      .select($"qid", $"vec_id", $"sim_micro")
    assert(pruned.exceptAll(exact).count() == 0, "probing can only MISS hits, never invent them")
    // probing every cell reproduces the exact range set
    val nlist = IndexStore.read(spark, path)._2.count().toInt
    val all = IndexStore.rangeSearchPruned(spark, path, q, thresholdMicro = thr, nprobe = nlist)
      .select($"qid", $"vec_id", $"sim_micro")
    assert(all.exceptAll(exact).count() == 0 && exact.exceptAll(all).count() == 0)
    pruned.unpersist(blocking = false)
  }

  test("index stats: per-cell counts partition the base, norms are ~1 for the normalized corpus") {
    val (rows, centroids) = IndexStore.read(spark, path)
    val stats = rows
      .select($"cell_id".cast("long").as("cell_id"), $"vec_id",
        graft.functions.VectorFunctions.micro(
          graft.functions.VectorFunctions.norm2($"embedding")).as("nm"))
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n_vecs"), expr("sum(nm) DIV count(1)").as("mean_norm_micro"))
      .collect()
    assert(stats.map(_.getAs[Long]("n_vecs")).sum == Tables.embeddings(spark, sfDir).count())
    assert(stats.length.toLong == rows.select($"cell_id").distinct().count())
    // the corpus is L2-normalized: every cell's mean norm is 1.0 ± 1 ulp-ish
    assert(stats.forall(r => math.abs(r.getAs[Long]("mean_norm_micro") - 1000000L) <= 2L),
      stats.map(_.getAs[Long]("mean_norm_micro")).mkString(","))
  }

  test("pruned search scan carries a static PartitionFilters IN-list on cell_id") {
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val plan = IndexStore.searchPruned(spark, path, q, k = 5, nprobe = 10)
      .queryExecution.executedPlan.toString
    // the rows scan must carry the probed in-list (planned as INSET),
    // i.e. prune unprobed cells' directories before reading a byte
    assert(plan.contains("PartitionFilters") && plan.contains("INSET"),
      "expected an INSET partition filter on cell_id\n" + plan.take(3000))
  }

  /** Spark jobs started by `body` on this thread (and the SQL threads it
    * hands work to, which inherit its local properties).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.budget") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.budget", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.budget", null)
      org.apache.spark.GraftListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** The serving shape: a driver-side batch of 5 embedded queries, and
    * the default store (outside java.io.tmpdir: the table memo re-lists
    * temp paths).
    */
  private def servingBatch(): (String, org.apache.spark.sql.DataFrame) = {
    val store = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, store)
    (store, VectorSearch.querySet(spark, sfDir, 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("qid", "qvec"))
  }

  test("job budget: one searchPruned call over a local query batch runs at most 2 Spark jobs") {
    val (store, q) = servingBatch()
    IndexStore.searchPruned(spark, store, q).collect() // warm: centroid memo, file listing
    val jobs = jobsOf(IndexStore.searchPruned(spark, store, q).collect())
    // 11 with the cross-join + window probe run twice, 5 with the rank
    // window and global sort; left: the probe's broadcast and the TopK job
    assert(jobs <= 2, s"searchPruned ran $jobs jobs")
  }

  test("job budget: one knnDeclarative call over a local query batch runs at most 2 Spark jobs") {
    // the exact-search serving path: the batch against every stored row
    val (store, q) = servingBatch()
    val base = IndexStore.read(spark, store)._1.select($"vec_id", $"embedding")
    VectorSearch.knnDeclarative(q, base, 5).collect() // warm: file listing
    val jobs = jobsOf(VectorSearch.knnDeclarative(q, base, 5).collect())
    assert(jobs <= 2, s"knnDeclarative ran $jobs jobs")
  }

  test("job budget: a ranked KnnJoin over a local query batch runs in 1 Spark job") {
    // the query side is collected from a local relation without a job, and
    // both TopK merges run inside the collecting job
    val (store, q) = servingBatch()
    val base = IndexStore.read(spark, store)._1.select($"vec_id", $"embedding")
    def ranked() = VectorSearch.rankTopK(graft.plans.KnnJoinApi.knnJoin(spark, q, base, 5), 5).collect()
    ranked() // warm: file listing
    val jobs = jobsOf(ranked())
    assert(jobs <= 1, s"rankTopK over knnJoin ran $jobs jobs")
  }

  test("tombstoned search: no deleted id surfaces, k fills from live rows, pruning kept") {
    val out = IndexStore.searchTombstoned(spark, sfDir)
    val rows = out.select($"qid".as[Long], $"vec_id".as[Long], $"rank".as[Long]).collect()
    assert(rows.forall(_._2 % 17 != 3), "a tombstoned id surfaced in the top-k")
    // dense 1..k ranks per query: the anti-join sits BELOW the rank
    // window, so k fills from live rows instead of leaving gaps
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq, s"ranks not dense for qid=$q")
      assert(rs.length == 5, s"qid=$q returned ${rs.length} < k hits")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("INSET"),
      "tombstone filter must not defeat static cell pruning\n" + plan.take(3000))
  }

  test("recall sweep: monotone in nprobe, exact at nprobe=nlist, agrees with the per-query report") {
    val rows = IndexStore.recallSweep(spark, sfDir)
      .select($"nprobe".as[Long], $"n_found".as[Long], $"n_exact".as[Long],
        $"recall_micro".as[Long]).collect().toSeq
    assert(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted, "levels ascend")
    // recall@k is monotone in the probe level: candidates(L1) ⊆ candidates(L2)
    assert(rows.map(_._4).sliding(2).forall(s => s.length < 2 || s(0) <= s(1)),
      s"recall not monotone: $rows")
    assert(rows.last._4 == 1000000L, "probing every cell must recover exact top-k")
    assert(rows.map(_._3).distinct.size == 1, "n_exact constant across levels")
    // cross-check vs the per-query report at the shared nprobe=10 level
    val reportFound = IndexStore.recallReport(spark, sfDir)
      .select($"n_found".as[Long]).collect().sum
    val sweepAt10 = rows.find(_._1 == 10L).map(_._2)
    assert(sweepAt10.contains(reportFound),
      s"sweep n_found at nprobe=10 ($sweepAt10) != report total ($reportFound)")
  }

  test("mrr eval: perfect at full probe, rr consistent with rank, misses are zero") {
    val full = IndexStore.mrrReport(spark, sfDir, k = 10, nq = 5, nprobe = 1000)
      .collect()
    assert(full.length == 5)
    assert(full.forall(r => r.getLong(1) == 1L && r.getLong(2) == 1000000L),
      s"full probe must rank the true NN first: ${full.mkString(",")}")
    val probed = IndexStore.mrrReport(spark, sfDir).collect()
    assert(probed.forall { r =>
      val (rank, rr) = (r.getLong(1), r.getLong(2))
      if (rank > 0) rr == 1000000L / rank else rr == 0L
    }, "rr_micro must be 10^6 DIV rank (0 on a miss)")
  }

  test("rebuild compacts tombstones: live rows only, retrained cells, fresh build id") {
    val path = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, path)
    val out = s"/tmp/graft_rebuild_${System.nanoTime()}"
    try {
      val tombs = Tables.embeddings(spark, sfDir)
        .filter($"vec_id" % 17 === 3).select($"vec_id")
      IndexStore.rebuild(spark, path, out, tombs)
      val (rows, cents) = IndexStore.read(spark, out)
      assert(rows.filter($"vec_id" % 17 === 3).count() == 0, "tombstoned rows survived compaction")
      val expected = Tables.embeddings(spark, sfDir).count() - tombs.count()
      assert(rows.count() == expected, "live rows lost or duplicated in the rebuild")
      assert(IndexStore.buildId(out).nonEmpty && IndexStore.buildId(out) != IndexStore.buildId(path),
        "rebuild must stamp a fresh build id")
      // retrained store serves full top-k from live rows only
      val hits = IndexStore.search(spark, out, graft.operators.VectorSearch.querySet(spark, sfDir, 5))
        .select($"qid".as[Long], $"vec_id".as[Long], $"rank".as[Long]).collect()
      assert(hits.forall(_._2 % 17 != 3))
      hits.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.length == 5 && rs.map(_._3).sorted.toSeq == (1L to 5L), s"qid=$q top-k malformed")
      }
      assert(cents.count() >= 1)
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(out))
  }

  test("auto-tune picks the smallest measured nprobe meeting the recall target") {
    val target = 900000L
    val curve = IndexStore.recallSweep(spark, sfDir)
      .select($"nprobe".as[Long], $"recall_micro".as[Long]).collect().toSeq
    val feasible = curve.filter(_._2 >= target).map(_._1)
    assert(feasible.nonEmpty, "nprobe = nlist has recall 1.0 by construction")
    val tuned = IndexStore.autoTuneSearch(spark, sfDir).cache()
    val np = tuned.select($"nprobe").distinct().as[Long].collect()
    assert(np.toSeq == Seq(feasible.min), s"chose ${np.toSeq}, measured curve $curve")
    // the tuned result IS the pruned search at the chosen knob
    val direct = IndexStore.searchPruned(spark, IndexStore.defaultPath(sfDir),
      graft.operators.VectorSearch.querySet(spark, sfDir, 5), 5, feasible.min.toInt)
    val got = tuned.drop("nprobe")
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty)
    // no cheaper measured level would have met the target
    curve.filter(_._1 < feasible.min).foreach { case (l, rec) =>
      assert(rec < target, s"level $l already met the target; min was not minimal")
    }
    tuned.unpersist(blocking = false)
  }

  test("absorb: new vectors land in their centroid cells, searchable with no rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-absorbstore").toString
    val store = s"$tmp/store"
    try {
      val e = Tables.embeddings(spark, sfDir)
      val base = e.filter($"vec_id" % 2 === 0)
      val extra = e.filter($"vec_id" % 2 === 1 && $"vec_id" < 100)
      IndexStore.writeFrom(base, store)
      val id1 = IndexStore.buildId(store)
      IndexStore.absorb(spark, store, extra)
      assert(IndexStore.buildId(store) != id1,
        "absorb must stamp a fresh build id (PQ/planner cascade)")
      val (rows, centroids) = IndexStore.read(spark, store)
      assert(rows.count() == base.count() + extra.count(), "append, not overwrite")
      // absorbed rows sit in the cell the CURRENT centroids assign — the
      // invariant that makes probed search find them without re-clustering
      val stored = rows.join(extra.select($"vec_id"), "vec_id")
        .select($"vec_id", $"cell_id".cast("long").as("got_cell"))
      val expected = graft.operators.VectorSearch.assignCells(extra, centroids)
        .select($"vec_id", $"cell_id".cast("long").as("want_cell"))
      assert(stored.join(expected, "vec_id")
        .filter($"got_cell" =!= $"want_cell").count() == 0)
      // a probed query AT an absorbed vector must score top-1 at exactly
      // the vector's self-similarity (itself, or an exact twin)
      import graft.functions.VectorFunctions
      val queries = extra.select((-$"vec_id").as("qid"), $"embedding".as("qvec"))
      val selfSim = extra.select((-$"vec_id").as("qid"),
        VectorFunctions.micro(VectorFunctions.dot($"embedding", $"embedding")).as("want_micro"))
      val bad = IndexStore.searchPruned(spark, store, queries, k = 1)
        .filter($"rank" === 1)
        .join(selfSim, "qid")
        .filter($"sim_micro" =!= $"want_micro").count()
      assert(bad == 0, "every absorbed vector must be found at its self-similarity")
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(tmp))
  }

  test("maintain absorb branch: serving store keeps the day-1 centroids, all rows land") {
    val report = IndexStore.maintainQuery(spark, sfDir, tauMicroSq = Long.MaxValue)
    val decisions = report.select($"decision").distinct().as[String].collect()
    assert(decisions.toSeq == Seq("absorb"), "τ=∞ must always absorb")
    val maintPath = IndexStore.defaultPath(sfDir) + "_maint"
    val (rows, centroids) = IndexStore.read(spark, maintPath)
    val e = Tables.embeddings(spark, sfDir)
    assert(rows.count() == e.count(), "absorb must end serving every vector")
    // centroids are the ones trained on the even half alone: re-deriving
    // that training must reproduce them exactly (absorb never re-trains)
    val (_, wantCentroids) = graft.operators.VectorSearch.ivfBuildFrom(
      e.filter($"vec_id" % 2 === 0))
    val got = centroids.select($"cell_id".cast("long"), $"centroid").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val want = wantCentroids.select($"cell_id".cast("long"), $"centroid").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == want, "absorb branch must not move the trained centroids")
    val n = report.select($"rows_after").distinct().as[Long].collect()
    assert(n.toSeq == Seq(e.count()))
  }

  test("maintain rebuild branch: serving store is re-trained over live ∪ incoming") {
    val report = IndexStore.maintainQuery(spark, sfDir, tauMicroSq = 0L)
    val decisions = report.select($"decision").distinct().as[String].collect()
    assert(decisions.toSeq == Seq("rebuild"), "τ=0 must always rebuild")
    val rbPath = IndexStore.defaultPath(sfDir) + "_maint_rb"
    assert(IndexStore.buildId(rbPath).nonEmpty, "rebuild must stamp the new store")
    val (rows, centroids) = IndexStore.read(spark, rbPath)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(rows.count() == n, "rebuild must serve every vector")
    // re-trained quantizer: nlist follows the FULL corpus size, the
    // signature of a re-train (the absorb branch keeps the half-corpus's)
    val wantNlist = math.max(1, math.min(100, math.sqrt(n.toDouble).toInt))
    assert(centroids.count() == wantNlist,
      s"expected re-trained nlist=$wantNlist, got ${centroids.count()}")
    // every row sits in the cell the NEW centroids assign
    val mis = rows.select($"vec_id", $"cell_id".cast("long").as("got"))
      .join(graft.operators.VectorSearch.assignCells(rows.drop("cell_id"), centroids)
        .select($"vec_id", $"cell_id".cast("long").as("want")), "vec_id")
      .filter($"got" =!= $"want").count()
    assert(mis == 0)
  }

  test("ensure rebuilds when the source data is regenerated, and only then") {
    // The driver rewrites the testdata between rounds; a store keyed only
    // on artifact EXISTENCE would keep serving the previous corpus's
    // clustering. The `_src_fp_*` content marker must trigger exactly one
    // rebuild per source generation.
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp").toString
    val srcDir = s"$tmp/data"; new java.io.File(srcDir).mkdirs()
    def writeEmbeddings(df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = s"$tmp/stage"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/embeddings.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.streaming.StreamOps.rmTree(new java.io.File(staging))
    }
    val store = s"$tmp/store"
    try {
      val full = Tables.embeddings(spark, sfDir)
      writeEmbeddings(full)
      IndexStore.ensure(spark, srcDir, store)
      val id1 = IndexStore.buildId(store)
      assert(id1.nonEmpty, "first ensure builds and stamps")
      IndexStore.ensure(spark, srcDir, store)
      assert(IndexStore.buildId(store) == id1, "unchanged source: ensure must be a no-op")
      // "regenerate" the corpus: same table, half the rows
      writeEmbeddings(full.filter($"vec_id" % 2 === 0))
      IndexStore.ensure(spark, srcDir, store)
      assert(IndexStore.buildId(store) != id1, "regenerated source must force a rebuild")
      val (rows, _) = IndexStore.read(spark, store)
      assert(rows.count() == full.filter($"vec_id" % 2 === 0).count(),
        "rebuilt store must index the NEW corpus")
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(tmp))
  }

  test("bounded tombstone broadcast: hinted within the bound, shuffled past it, rows identical") {
    // Every tombstone anti-join in the engine routes through
    // Tables.boundedBroadcast: real deletes (a sliver) get the broadcast
    // hint; a corpus-proportional bulk delete must NOT force a driver-side
    // hash relation — the plan degrades to a shuffled anti-join and the
    // result is unchanged.
    // Auto-broadcast is disabled inside this test so the plan reflects the
    // HINT alone: a 10k-row synthetic set is still under the size threshold
    // and the planner would (correctly) volunteer a broadcast from real
    // stats — the contract under test is only that boundedBroadcast stops
    // FORCING one past the bound, leaving the choice to the planner/AQE.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val emb = Tables.embeddings(spark, sfDir).select($"vec_id")
      // starts mid-corpus so the anti-join keeps a non-empty survivor set
      val bulk = spark.range(250, Tables.MaxInlineIds + 750L).toDF("vec_id")
      val hinted = emb.join(Tables.boundedBroadcast(bulk, bound = Long.MaxValue),
        Seq("vec_id"), "left_anti")
      val degraded = emb.join(Tables.boundedBroadcast(bulk), Seq("vec_id"), "left_anti")
      val hintedPlan = hinted.queryExecution.executedPlan.toString
      val degradedPlan = degraded.queryExecution.executedPlan.toString
      assert(hintedPlan.contains("BroadcastHashJoin"),
        s"within-bound set must carry the broadcast hint:\n${hintedPlan.take(1500)}")
      assert(!degradedPlan.contains("BroadcastHashJoin"),
        s"past-bound set must not be forced into a broadcast:\n${degradedPlan.take(1500)}")
      assert(degradedPlan.contains("SortMergeJoin") || degradedPlan.contains("ShuffledHashJoin"),
        s"past-bound set must shuffle:\n${degradedPlan.take(1500)}")
      val a = hinted.collect().map(_.getLong(0)).sorted.toSeq
      val b = degraded.collect().map(_.getLong(0)).sorted.toSeq
      assert(a == b && a.nonEmpty, "join strategy must never change the result")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  // --- the two-part layout: absorb segments over the clustered cells ---

  /** The even half as a pristine store under a scratch dir (built once),
    * and the odd half in the three absorb chunks `layoutCompactQuery` uses.
    */
  private lazy val halfStore: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-half").toString
    tmpSegRoot = Some(p)
    IndexStore.writeFrom(Tables.embeddings(spark, sfDir).filter($"vec_id" % 2 === 0), s"$p/half")
    s"$p/half"
  }
  private var tmpSegRoot: Option[String] = None

  private def chunks: Seq[org.apache.spark.sql.DataFrame] = {
    val odd = Tables.embeddings(spark, sfDir).filter($"vec_id" % 2 === 1)
    (0 until 3).map(i => odd.filter(($"vec_id" / 2).cast("long") % 3 === i))
  }

  /** A fresh clone of [[halfStore]] at `name`, removed after `body`. */
  private def withClone(name: String)(body: String => Unit): Unit = {
    val store = s"${new java.io.File(halfStore).getParent}/$name"
    IndexStore.cloneStore(halfStore, store)
    try body(store) finally graft.streaming.StreamOps.rmTree(new java.io.File(store))
  }

  /** The per-cell append absorb that preceded segments — the reference the
    * segment layout must stay row-identical to.
    */
  private def absorbPerCell(store: String, vectors: org.apache.spark.sql.DataFrame): Unit =
    VectorSearch.assignCells(vectors, graft.sources.IvfProbe.centroids(spark, store))
      .repartition($"cell_id")
      .write.mode("append").partitionBy("cell_id").parquet(s"$store/rows")

  /** Every file under `dir`, with its length and mtime. */
  private def tree(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  /** Parquet data files under `dir` (no `_`/`.` bookkeeping files). */
  private def dataFiles(dir: String): Set[String] =
    tree(dir).keySet.filter { p =>
      val n = new java.io.File(p).getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  private def content(store: String) =
    IndexStore.read(spark, store)._1.select($"vec_id", $"cell_id", $"embedding", $"label")
      .orderBy($"vec_id").collect().toSeq

  test("job budget: absorb of a local batch lands one data file in 1 Spark job, rows/ untouched") {
    withClone("budget") { store =>
      val b = chunks.head
      val batch = spark.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
      graft.sources.IvfProbe.centroids(spark, store) // warm: the centroid memo
      val cells = tree(s"$store/rows")
      val before = dataFiles(store)
      val jobs = jobsOf(IndexStore.absorb(spark, store, batch))
      assert(jobs <= 1, s"absorb ran $jobs jobs")
      assert(tree(s"$store/rows") == cells, "absorb must not touch the clustered cells")
      val added = dataFiles(store) -- before
      assert(added.size == 1 && added.forall(_.startsWith(s"$store/segments/")), added)
    }
  }

  test("segments ≡ per-cell appends: read, tombstoned searchPruned and knnDeclarative row-identical") {
    withClone("seg") { seg =>
      withClone("ref") { ref =>
        chunks.foreach { c =>
          IndexStore.absorb(spark, seg, c)
          absorbPerCell(ref, c)
        }
        assert(new java.io.File(s"$seg/segments").isDirectory && !new java.io.File(s"$ref/segments").exists())
        assert(content(seg) == content(ref), "read must serve the cells ∪ every segment")
        val q = Tables.embeddings(spark, sfDir).select($"vec_id".as("qid"), $"embedding".as("qvec"))
        val live = Some(!Tables.deleted($"vec_id"))
        def probed(store: String) =
          IndexStore.searchPruned(spark, store, q, 5, 10, live).orderBy($"qid", $"rank").collect().toSeq
        val p = probed(seg)
        assert(p.nonEmpty && p == probed(ref), "tombstoned probed search")
        def exact(store: String) =
          VectorSearch.knnDeclarative(q, IndexStore.read(spark, store)._1.select($"vec_id", $"embedding"), 5)
            .orderBy($"qid", $"rank").collect().toSeq
        val e = exact(seg)
        assert(e.size == 5 * 500 && e == exact(ref), "exact search over read")
      }
    }
  }

  test("compact folds segments into one file per touched cell, conserving every row") {
    withClone("fold") { store =>
      chunks.foreach(IndexStore.absorb(spark, store, _))
      val before = content(store)
      val touched = spark.read.parquet(s"$store/segments").select($"cell_id").distinct()
        .as[Int].collect().toSet
      val untouched = tree(s"$store/rows").filter { case (p, _) =>
        !touched.exists(c => p.contains(s"/cell_id=$c/"))
      }
      val id = IndexStore.buildId(store)
      IndexStore.compact(spark, store)
      assert(!new java.io.File(s"$store/segments").exists(), "compact must remove segments/")
      assert(content(store) == before, "compact must conserve every row")
      touched.foreach { c =>
        val n = dataFiles(s"$store/rows/cell_id=$c").size
        assert(n == 1, s"cell $c holds $n files after the fold")
      }
      assert(untouched.toSet.subsetOf(tree(s"$store/rows").toSet), "untouched cells keep their files")
      assert(IndexStore.buildId(store) == id, "a fold does not change the row set")
      IndexStore.compact(spark, store) // nothing left to fold: a no-op
      assert(content(store) == before)
    }
  }

  test("writeFrom over an absorbed store leaves no segment rows") {
    withClone("rewrite") { store =>
      IndexStore.absorb(spark, store, chunks.head)
      val even = Tables.embeddings(spark, sfDir).filter($"vec_id" % 2 === 0)
      IndexStore.writeFrom(even, store)
      assert(!new java.io.File(s"$store/segments").exists())
      assert(IndexStore.read(spark, store)._1.count() == even.count())
    }
  }

  test("absorbed store: searchPruned keeps the cells' INSET and pushes cell_id into the segment scan") {
    withClone("plan") { store =>
      chunks.foreach(IndexStore.absorb(spark, store, _))
      val plan = IndexStore.searchPruned(spark, store, VectorSearch.querySet(spark, sfDir, 3))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("INSET"),
        "expected an INSET partition filter on cell_id\n" + plan.take(4000))
      assert("PushedFilters: \\[In\\(cell_id".r.findFirstIn(plan).nonEmpty,
        "expected cell_id pushed into the segment scan\n" + plan.take(4000))
    }
  }

  test("AnnProbeRewrite does not fire over an absorbed store, which then runs the flat query exact") {
    withClone("ann") { store =>
      val q = VectorSearch.querySet(spark, sfDir, 1).collect().head
      def flat() = IndexStore.flatTopK(spark, store, q.getLong(0), q.getSeq[Float](1).toArray)
      def cellFilters(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.references.exists(_.name == "cell_id") => f
      }
      assert(cellFilters(flat()).nonEmpty, "control: the rule fires on the never-absorbed store")
      chunks.foreach(IndexStore.absorb(spark, store, _))
      val absorbed = flat()
      assert(cellFilters(absorbed).isEmpty, absorbed.queryExecution.optimizedPlan.toString)
      val exact = graft.GraftSession.withConf(spark, "spark.graft.ann.rewrite.enabled", "false")(
        flat().collect().toSeq)
      assert(absorbed.collect().toSeq == exact)
    }
  }

  test("layout compaction: fragmented absorb cells compact to the file target with rows conserved") {
    val out = IndexStore.layoutCompactQuery(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_files") <= 1L),
      s"every cell must compact to the target, got ${out.map(_.getAs[Long]("n_files")).max}")
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == n,
      "compaction must conserve every row")
    assert(out.head.getAs[Long]("corpus_rows") == n)
    // the compacted store still serves: probed search returns full ranks
    val work = IndexStore.defaultPath(sfDir) + "_plc"
    val q = Tables.embeddings(spark, sfDir).filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    assert(IndexStore.searchPruned(spark, work, q, 3, 10).count() == 9)
  }
}
