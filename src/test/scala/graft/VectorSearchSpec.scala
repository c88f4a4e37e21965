package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorSearch

/** V4–V6/O2/J1: exact kNN is the oracle; IVF and LSH are approximate paths
  * whose recall is measured against it (the FAISS recall contract:
  * nprobe → nlist ⇒ recall → 1, `FAISS/PlainDemo/pipeline.py:254-263`).
  */
class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  private def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"qid", $"vec_id").as[(Long, Long)].collect().toSet

  test("knnExact with k=n returns every non-self row per query") {
    val n = Tables.embeddings(spark, sfDir).count().toInt
    val all = VectorSearch.knnExact(spark, sfDir, k = n, nq = 2)
    assert(all.count() == 2L * (n - 1))
  }

  test("k and nprobe clamp at the edges like the reference guards") {
    // pipeline+ui.py:227-230: actual_nprobe = min(nprobe, nlist),
    // actual_k = min(k, ntotal). The window-rank formulation realizes
    // exactly these clamped semantics — over-asking never errors and
    // never fabricates rows.
    val n = Tables.embeddings(spark, sfDir).count()
    val overK = VectorSearch.knnExact(spark, sfDir, k = (10 * n).toInt, nq = 2)
    assert(overK.count() == 2L * (n - 1), "k > ntotal clamps to every non-self row")
    val e = Tables.embeddings(spark, sfDir)
    val centroids = VectorSearch.kmeansFit(e, 4, iters = 2).cache()
    val assigned = VectorSearch.assignCells(e, centroids).cache()
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val overProbe = VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = 999)
    val allProbe = VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = 4)
    assert(hits(overProbe) == hits(allProbe), "nprobe > nlist clamps to probing every cell")
  }

  test("kmeansFit bounds its train set: keyed sample is deterministic and centroids stay valid") {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    // force sampling: bound below the table size
    val a = VectorSearch.kmeansFit(e, 4, iters = 2, maxTrainRows = n / 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val b = VectorSearch.kmeansFit(e, 4, iters = 2, maxTrainRows = n / 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    assert(a == b, "sampled training must be deterministic across runs")
    assert(a.map(_._1) == Seq(0, 1, 2, 3), "one centroid per cell")
    // sampled centroids still index the FULL table: assignment total,
    // nprobe=nlist recall still exact
    val centroids = VectorSearch.kmeansFit(e, 4, iters = 2, maxTrainRows = n / 3).cache()
    val assigned = VectorSearch.assignCells(e, centroids).cache()
    assert(assigned.count() == n, "assignment covers every row")
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val all = VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = 4)
    assert(hits(all) == hits(VectorSearch.knnExact(spark, sfDir, k = 5, nq = 3)))
  }

  test("knnExact ranks are contiguous and sims non-increasing per query") {
    val res = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5)
      .select($"qid", $"rank", $"sim_micro").as[(Long, Long, Long)]
      .collect().groupBy(_._1)
    res.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length).map(_.toLong))
      assert(sorted.map(_._3).sliding(2).forall(s => s.length < 2 || s(0) >= s(1)))
    }
  }

  test("IVF search with nprobe=nlist equals exact search") {
    val e = Tables.embeddings(spark, sfDir)
    val nlist = 4
    val centroids = VectorSearch.kmeansFit(e, nlist, iters = 2).cache()
    val assigned = VectorSearch.assignCells(e, centroids).cache()
    assert(assigned.count() == e.count(), "assignment is total")
    val q = VectorSearch.querySet(spark, sfDir, 5)
    val probedAll = VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = nlist)
    val exact = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5)
    assert(hits(probedAll) == hits(exact), "nprobe=nlist ⇒ recall 1")
  }

  test("IVF recall at nprobe=2 of 4 cells is reasonable") {
    val e = Tables.embeddings(spark, sfDir)
    val centroids = VectorSearch.kmeansFit(e, 4, iters = 2).cache()
    val assigned = VectorSearch.assignCells(e, centroids).cache()
    val q = VectorSearch.querySet(spark, sfDir, 5)
    val approx = hits(VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = 2))
    val exact = hits(VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5))
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low for half the cells probed")
  }

  test("filtered kNN fills k from qualifying rows only — a driver-side brute force agrees") {
    val maxLabel = 5
    val got = VectorSearch.knnFiltered(spark, sfDir, k = 5, nq = 3, maxLabel = maxLabel)
      .select($"qid", $"vec_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // independent recompute: collect the tiny sf0.001 base and brute-force
    val base = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val queries = base.filter(_._1 < 3)
    val expect = queries.flatMap { case (qid, qv, _) =>
      base.filter { case (vid, _, lab) => vid != qid && lab < maxLabel }
        .map { case (vid, v, _) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += qv(i).toDouble * v(i).toDouble; i += 1 }
          (qid, vid, s)
        }
        .sortBy { case (_, vid, s) => (-s, vid) }.take(5).zipWithIndex
        .map { case ((q, vid, _), i) => (q, vid, i + 1) }
    }
    assert(got.sorted.toSeq == expect.sorted.toSeq)
    // and the filter actually bites: some unfiltered top-5 hit is excluded
    val unfiltered = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 3)
      .join(Tables.embeddings(spark, sfDir).select($"vec_id", $"label"), "vec_id")
    assert(unfiltered.filter($"label" >= maxLabel).count() > 0,
      "test corpus should have high-label rows in the unfiltered top-k")
  }

  test("RRF fusion: dense ranks, exact integer arithmetic, and both-leg docs outrank single-leg peers") {
    val f = VectorSearch.ragFusion(spark, sfDir).cache()
    val rows = f.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("fused_rank")).sorted.toSeq == (1L to rows.length))
    // every row carries at least one leg, and the RRF arithmetic replays
    rows.foreach { r =>
      val (lex, dense) = (r.getAs[Long]("lex_rank"), r.getAs[Long]("dense_rank"))
      assert(lex > 0 || dense > 0)
      val expect = (if (lex > 0) 1000000L / (60 + lex) else 0L) +
        (if (dense > 0) 1000000L / (60 + dense) else 0L)
      assert(r.getAs[Long]("rrf_micro") == expect)
    }
    // a doc present in both legs beats any doc whose single leg rank is no
    // better than both of its legs
    val both = rows.filter(r => r.getAs[Long]("lex_rank") > 0 && r.getAs[Long]("dense_rank") > 0)
    val single = rows.filter(r => r.getAs[Long]("lex_rank") == 0 || r.getAs[Long]("dense_rank") == 0)
    for (b <- both; s <- single) {
      val bBest = math.min(b.getAs[Long]("lex_rank"), b.getAs[Long]("dense_rank"))
      val sRank = math.max(s.getAs[Long]("lex_rank"), s.getAs[Long]("dense_rank"))
      if (sRank >= bBest) assert(b.getAs[Long]("rrf_micro") >= s.getAs[Long]("rrf_micro"))
    }
    f.unpersist(blocking = false)
  }

  test("range search is the exact above-threshold set: filter-consistent with kNN and monotone") {
    val thr = 150000L
    val r = VectorSearch.rangeSearch(spark, sfDir, nq = 5, thresholdMicro = thr).cache()
    assert(r.count() > 0)
    assert(r.filter($"sim_micro" < thr).count() == 0, "no hit below the radius")
    // every exact top-k hit above the threshold must appear in the range set
    val fromKnn = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5)
      .filter($"sim_micro" >= thr).select($"qid", $"vec_id", $"sim_micro")
    assert(fromKnn.exceptAll(r.select($"qid", $"vec_id", $"sim_micro")).isEmpty)
    // raising the radius cut only shrinks the set (and stays a subset)
    val tight = VectorSearch.rangeSearch(spark, sfDir, nq = 5, thresholdMicro = thr + 100000L)
    assert(tight.select($"qid", $"vec_id").exceptAll(r.select($"qid", $"vec_id")).isEmpty)
    r.unpersist(blocking = false)
  }

  test("binary-quantization kNN with a corpus-covering rerank pool equals exact search") {
    // With rerank >= n the Hamming pre-filter is a no-op and the exact-dot
    // rerank must reproduce knnExact row for row — the two-stage pipeline
    // loses nothing when the candidate budget covers the corpus.
    val n = Tables.embeddings(spark, sfDir).count().toInt
    val bin = VectorSearch.knnBinary(spark, sfDir, rerank = n)
      .select($"qid", $"vec_id", $"rank", $"sim_micro")
    val exact = VectorSearch.knnExact(spark, sfDir)
    assert(bin.exceptAll(exact).isEmpty && exact.exceptAll(bin).isEmpty,
      "corpus-covering binary search must equal the exact oracle")
  }

  test("binary-quantization kNN: hamming bounds, contract, and pool-size recall monotonicity") {
    val bin = VectorSearch.knnBinary(spark, sfDir).cache() // default pool 50
    val hs = bin.select($"hamming").as[Long].collect()
    assert(hs.forall(h => h >= 0 && h <= 64), "64 code bits bound the Hamming distance")
    assert(bin.groupBy($"qid").count().select($"count").as[Long].collect().forall(_ == 5))
    val exact = hits(VectorSearch.knnExact(spark, sfDir))
    val tiny = hits(VectorSearch.knnBinary(spark, sfDir, rerank = 8))
    val deflt = hits(bin)
    assert(tiny.size == deflt.size && deflt.size == exact.size,
      "k hits per query at any pool size")
    // The 64 sign bits carry real angular signal: the default pool's recall
    // vs the exact top-k clears 0.6 (measured 0.80 on this corpus), and a
    // smaller pool can only do worse — the Hamming ranking is fixed, so
    // pool=8's candidates are a prefix of pool=50's.
    val r50 = deflt.intersect(exact).size.toDouble / exact.size
    val r8 = tiny.intersect(exact).size.toDouble / exact.size
    assert(r50 >= 0.6, s"pool=50 recall $r50 vs exact should clear 0.6")
    assert(r8 <= r50, s"recall must be monotone in pool size ($r8 > $r50)")
    bin.unpersist(blocking = false)
  }

  test("binary kNN semi-join fallback (above the inline-id bound) is row-identical") {
    // maxInlineIds = 0 forces the large-nq fetch path: candidate ids never
    // collect to the driver and the rerank fetch is a broadcast semi-join.
    // Same rows, same order, as the inline point-fetch path.
    val a = VectorSearch.knnBinary(spark, sfDir).collect()
    val b = VectorSearch.knnBinary(spark, sfDir, maxInlineIds = 0).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("LSH candidates are a subset of exact top-k ordering semantics") {
    // every LSH hit must carry the same sim as exact scoring gives that pair
    val lsh = VectorSearch.knnLsh(spark, sfDir, k = 3, nq = 5, bits = 4)
      .select($"qid", $"vec_id", $"sim_micro").as[(Long, Long, Long)].collect().toMap2
    val n = Tables.embeddings(spark, sfDir).count().toInt
    val exactAll = VectorSearch.knnExact(spark, sfDir, k = n, nq = 5)
      .select($"qid", $"vec_id", $"sim_micro").as[(Long, Long, Long)].collect().toMap2
    lsh.foreach { case (k2, sim) => assert(exactAll(k2) == sim, s"sim mismatch at $k2") }
  }

  test("hard negatives: label-disjoint from the anchor, top-k by sim, map-side rank limit") {
    val out = VectorSearch.hardNegatives(spark, sfDir, k = 5, nq = 5)
    val anchors = Tables.embeddings(spark, sfDir).filter($"vec_id" < 5)
      .select($"vec_id".as[Long], $"label".cast("long").as[Long]).collect().toMap
    val rows = out.select($"qid".as[Long], $"neg_label".as[Long], $"rank".as[Long],
      $"sim_micro".as[Long]).collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, negLabel, _, _) =>
      assert(negLabel != anchors(qid), s"anchor $qid got a same-label negative")
    }
    // per anchor: ranks are 1..k and sims are non-increasing in rank
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1L to byRank.length).toSeq, s"rank gap for $qid")
      assert(byRank.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4),
        s"sim not monotone for $qid")
    }
    // the rank limit is TopK's bounded per-partition pass
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("TopK "), p.take(2000))
  }

  test("MMR re-rank: deterministic, first pick is top-1, picks diversify vs plain top-k") {
    val mmr = VectorSearch.mmrRerank(spark, sfDir).toDF()
    val again = VectorSearch.mmrRerank(spark, sfDir).toDF()
    assert(mmr.exceptAll(again).count() == 0 && again.exceptAll(mmr).count() == 0,
      "greedy selection must be deterministic")
    val topk = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5)
    // λ·rel dominates an empty redundancy term: pick 1 IS the top-1 hit
    val firstPick = mmr.filter($"rank" === 1)
      .select($"qid".as[Long], $"vec_id".as[Long]).collect().toSet
    val top1 = topk.filter($"rank" === 1)
      .select($"qid".as[Long], $"vec_id".as[Long]).collect().toSet
    assert(firstPick == top1)
    // picks come from the candidate pool and ranks are contiguous
    val pool = VectorSearch.knnExact(spark, sfDir, k = 30, nq = 5)
      .select($"qid".as[Long], $"vec_id".as[Long]).collect().toSet
    val picks = mmr.select($"qid".as[Long], $"vec_id".as[Long]).collect().toSet
    assert(picks.subsetOf(pool))
    mmr.groupBy($"qid").agg(count(lit(1)).as("n"), max($"rank").as("mx"))
      .select($"n".as[Long], $"mx".as[Int]).collect()
      .foreach { case (n, mx) => assert(n == 5 && mx == 5) }
    // diversity: the MMR set's mean pairwise cosine is <= the plain top-k's
    val e = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    def meanPairSim(df: org.apache.spark.sql.DataFrame): Double = {
      val g = df.join(e, "vec_id")
        .select($"qid".as[Long], $"embedding".as[Seq[Float]]).collect().groupBy(_._1)
      val sims = g.values.flatMap { vs =>
        for (i <- vs.indices; j <- i + 1 until vs.length)
          yield vs(i)._2.zip(vs(j)._2).map { case (a, b) => a.toDouble * b.toDouble }.sum
      }
      sims.sum / sims.size
    }
    val dMmr = meanPairSim(mmr.select($"qid", $"vec_id"))
    val dTop = meanPairSim(topk.select($"qid", $"vec_id"))
    assert(dMmr <= dTop + 1e-9, s"MMR did not diversify: $dMmr vs top-k $dTop")
  }

  test("matryoshka with a corpus-covering candidate pool equals exact search") {
    val n = Tables.embeddings(spark, sfDir).count().toInt
    val mrl = VectorSearch.knnMatryoshka(spark, sfDir, candidates = n).collect().toSeq
    val exact = VectorSearch.knnExact(spark, sfDir).collect().toSeq
    assert(mrl == exact, "full-pool matryoshka must reduce to exact kNN")
  }

  test("matryoshka contract: k rows per query, contiguous ranks, non-increasing sims") {
    val rows = VectorSearch.knnMatryoshka(spark, sfDir)
      .select($"qid".as[Long], $"rank".as[Long], $"sim_micro".as[Long]).collect()
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to 5L), s"q$qid ranks")
      assert(rs.sortBy(_._2).map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"q$qid sims not non-increasing")
    }
  }

  test("multi-probe LSH dominates single-bucket LSH rank for rank") {
    val lsh = VectorSearch.knnLsh(spark, sfDir)
      .select($"qid".as[Long], $"rank".as[Long], $"sim_micro".as[Long]).collect()
    val mp = VectorSearch.knnMultiProbe(spark, sfDir)
      .select($"qid".as[Long], $"rank".as[Long], $"sim_micro".as[Long]).collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    // the single-bucket probe set is a subset of the multi-probe set, so at
    // every (qid, rank) the multi-probe hit is at least as similar
    lsh.foreach { case (qid, rank, sim) =>
      val m = mp.get((qid, rank))
      assert(m.isDefined && m.get >= sim, s"q$qid r$rank: mp=$m lsh=$sim")
    }
    // and the probe set really is wider: total hits never shrink
    assert(mp.size >= lsh.length)
  }

  test("maxsim equals an independent per-token two-level reduction") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.dot
    val got = VectorSearch.maxSim(spark, sfDir)
      .select($"qdoc".as[Long], $"ddoc".as[Long], $"rank".as[Long], $"score_micro".as[Long])
      .collect()
    // independent formulation: explicit (qdoc, ddoc, qslot) max, then sum
    val emb = Tables.embeddings(spark, sfDir)
    val tok = emb.select(expr("vec_id DIV 4").as("ddoc"), $"embedding")
    val qtok = emb.filter(expr("vec_id DIV 4 < 5"))
      .select(expr("vec_id DIV 4").as("qdoc"), expr("vec_id % 4").as("qslot"),
        $"embedding".as("qvec"))
    val ref = tok.crossJoin(broadcast(qtok)).filter($"ddoc" =!= $"qdoc")
      .withColumn("sim", dot($"qvec", $"embedding"))
      .groupBy($"qdoc", $"ddoc", $"qslot").agg(max($"sim").as("m"))
      .groupBy($"qdoc", $"ddoc").agg(sum($"m").as("score"))
      .select($"qdoc".as[Long], $"ddoc".as[Long],
        floor($"score" * 1000000.0).cast("long").as[Long])
      .collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(got.nonEmpty)
    got.foreach { case (qdoc, ddoc, _, micro) =>
      val r = ref((qdoc, ddoc))
      // the independent sum is fold-order-free; allow one ulp of micro slack
      assert(math.abs(r - micro) <= 1L, s"($qdoc,$ddoc): $r vs $micro")
    }
    // shape: 5 ranks per query doc, self-doc excluded
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to 5L))
      assert(rs.forall(_._2 != q))
    }
  }

  test("pruned maxsim matches a driver-side replay of the collision semantics") {
    import graft.functions.VectorFunctions.signLshBucket
    val got = VectorSearch.maxSimPruned(spark, sfDir)
      .select($"qdoc".as[Long], $"ddoc".as[Long], $"rank".as[Long], $"score_micro".as[Long])
      .collect()
    // brute-force the same semantics on the driver (sf0.001 is tiny)
    val rows = Tables.embeddings(spark, sfDir)
      .select($"vec_id".as[Long], $"embedding".as[Seq[Float]],
        signLshBucket($"embedding", 6).as[Long]).collect()
    val toks = rows.map { case (id, e, b) => (id / 4, id % 4, e, b) }
    val qtoks = toks.filter(_._1 < 5)
    val scores = collection.mutable.Map[(Long, Long), Array[Option[Double]]]()
    for ((qd, qs, qv, qb) <- qtoks; (dd, _, dv, db) <- toks
         if db == qb && dd != qd) {
      val sim = qv.zip(dv).foldLeft(0.0) { case (a, (x, y)) => a + x.toDouble * y.toDouble }
      val slot = scores.getOrElseUpdate((qd, dd), Array.fill[Option[Double]](4)(None))
      if (slot(qs.toInt).forall(_ < sim)) slot(qs.toInt) = Some(sim)
    }
    val want = scores.map { case ((qd, dd), ms) =>
      ((qd, dd), math.floor(ms.map(_.getOrElse(0.0)).sum * 1e6).toLong)
    }
    got.foreach { case (qd, dd, _, micro) =>
      val w = want((qd, dd))
      assert(math.abs(w - micro) <= 1L, s"($qd,$dd): $w vs $micro")
    }
    // contract: ranks contiguous from 1 per query, never the self doc
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length))
      assert(rs.forall(_._2 != q))
    }
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = rows.map(r => ((r._1, r._2), r._3)).toMap
  }

  test("adaptive filtered search: selective pred takes the exact brute branch") {
    val out = VectorSearch.knnFilteredAdaptive(spark, sfDir, pred = col("label") === 3)
    assert(out.select($"strategy").distinct().as[String].collect().toSeq == Seq("brute"))
    val got = out.select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    val want = VectorSearch.knnDeclarative(
        VectorSearch.querySet(spark, sfDir, 5),
        Tables.embeddings(spark, sfDir).filter($"label" === 3)
          .select($"vec_id", $"embedding"), 5)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(got == want, "brute branch must be the exact filtered top-k")
  }

  test("adaptive filtered search: loose pred takes the probed branch and matches searchPruned") {
    val out = VectorSearch.knnFilteredAdaptive(spark, sfDir, pred = col("label") >= 0)
    assert(out.select($"strategy").distinct().as[String].collect().toSeq == Seq("probed"))
    val got = out.select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    val path = graft.sources.IndexStore.defaultPath(sfDir)
    val want = graft.sources.IndexStore.searchPruned(spark, path,
        VectorSearch.querySet(spark, sfDir, 5))
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(got == want, "an always-true pred must reduce to the plain probed search")
  }
}
