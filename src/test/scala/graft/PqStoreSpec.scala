package graft

import org.apache.spark.sql.functions._
import graft.sources.PqStore
import graft.operators.VectorSearch

/** Product-quantization invariants: code-space shape, build determinism,
  * ADC score replay, and recall against the exact search.
  */
class PqStoreSpec extends SparkSpec {
  import spark.implicits._

  private val path = java.nio.file.Paths.get("data", "pq_store_spec").toAbsolutePath.toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
    super.afterAll()
  }

  test("codes cover every vector with m codes in [0, k)") {
    PqStore.ensure(spark, sfDir, path)
    val codes = spark.read.parquet(s"$path/codes").cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(codes.count() == n * PqStore.M)
    assert(codes.groupBy($"vec_id").count().filter($"count" =!= PqStore.M).count() == 0)
    assert(codes.filter($"code" < 0 || $"code" >= PqStore.NCodes).count() == 0)
    assert(codes.select($"sub").distinct().count() == PqStore.M)
    codes.unpersist(blocking = false)
  }

  test("build is deterministic: a rebuild yields identical codebooks and codes") {
    PqStore.ensure(spark, sfDir, path)
    val b1 = spark.read.parquet(s"$path/codebooks")
      .orderBy($"sub", $"code").collect().map(_.toString).toSeq
    val c1 = spark.read.parquet(s"$path/codes")
      .orderBy($"vec_id", $"sub").collect().map(_.toString).toSeq
    val path2 = path + "_re"
    try {
      PqStore.write(spark, sfDir, path2)
      val b2 = spark.read.parquet(s"$path2/codebooks")
        .orderBy($"sub", $"code").collect().map(_.toString).toSeq
      val c2 = spark.read.parquet(s"$path2/codes")
        .orderBy($"vec_id", $"sub").collect().map(_.toString).toSeq
      assert(b1 == b2, "codebooks differ between builds")
      assert(c1 == c2, "codes differ between builds")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(path2))
    }
  }

  test("day-2 absorb: codes equal rebuild-encode under the same books; fresh rows searchable") {
    import graft.sources.IndexStore
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val ivfPath = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, ivfPath)
    val centroids = IndexStore.read(spark, ivfPath)._2
    val p = path + "_abs"
    PqStore.ensure(spark, sfDir, path)
    try {
      PqStore.writeFrom(spark, p, even, centroids)
      PqStore.absorb(spark, p, odd)
      // code-space identity: the absorbed store's (vec_id, sub, code,
      // cell_id) population equals encoding the UNION corpus under the
      // half store's EXISTING codebooks and coarse quantizer — absorb is
      // rebuild-encode for the batch, with the corpus never re-read
      val books = spark.read.parquet(s"$p/codebooks")
      val coarse = spark.read.parquet(s"$p/coarse")
      val rotation = spark.read.parquet(s"$p/rotation")
      val expect = PqStore.encode(emb, books, coarse, rotation)
        .select($"vec_id".as[Long], $"sub".as[Int], $"code".as[Int], $"cell_id".as[Int])
        .collect().toSet
      val got = spark.read.parquet(s"$p/codes")
        .select($"vec_id".as[Long], $"sub".as[Int], $"code".as[Int],
          $"cell_id".cast("int").as[Int])
        .collect().toSet
      assert(got == expect, "absorbed codes must equal rebuild-encode under the same books")
      // fresh rows searchable: a fresh-qid ADC search with an absorbed
      // vector as the query returns that row among its top-5
      val probeId = odd.agg(min($"vec_id")).as[Long].head()
      val probe = odd.filter($"vec_id" === probeId)
        .select(lit(-1L).as("qid"), $"embedding".as("qvec"))
      val top = PqStore.search(spark, p, probe, k = 5)
        .select($"vec_id".as[Long]).collect().toSet
      assert(top.contains(probeId), s"absorbed row $probeId must be ADC-searchable, got $top")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(p))
    }
    // the canonical store (knn_ivfpq's oracle artifact) is untouched: its
    // ensure() above predates the absorb and its file census still matches
    val census = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/codes")).map(_.getPath).sorted
    }
    assert(census.nonEmpty && census.forall(!_.contains("_abs")),
      "canonical PQ store must be untouched by the absorb")
  }

  test("ADC score equals coarse term plus the direct sum of micro'd residual subspace dots") {
    PqStore.ensure(spark, sfDir, path)
    val hits = PqStore.search(spark, path, VectorSearch.querySet(spark, sfDir, 3), k = 3)
      .collect()
    // replay driver-side: reconstruct each hit's score from raw artifacts —
    // dot(q, coarse_cell) micro'd, plus the m micro'd residual LUT hits
    val books = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val coarse = spark.read.parquet(s"$path/coarse").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val codes = spark.read.parquet(s"$path/codes")
      .select($"vec_id", $"sub", $"code", $"cell_id".cast("int").as("cell_id"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (v, rs) =>
        v -> (rs.head.getInt(3), rs.map(r => r.getInt(1) -> r.getInt(2)).toMap)
      }
    val qs = Tables.embeddings(spark, sfDir).filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // the OPQ rotation the residual LUT is computed under: rotated query
    // element i = float-narrowed dot(q, float-narrowed row i) — the same
    // arithmetic the engine and the DuckDB oracle share
    val rot = spark.read.parquet(s"$path/rotation").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    def rotate(q: Array[Float]): Array[Float] = Array.tabulate(q.length) { i =>
      val row = rot(i)
      var acc = 0.0; var j = 0
      while (j < q.length) { acc += q(j).toDouble * row(j).toFloat.toDouble; j += 1 }
      acc.toFloat
    }
    val d = 64 / PqStore.M
    hits.foreach { h =>
      val (qid, vid, adc) = (h.getLong(0), h.getLong(1), h.getLong(3))
      val q = qs(qid)
      val qr = rotate(q)
      val (cell, subCodes) = codes(vid)
      val cellCent = coarse(cell)
      var cacc = 0.0
      (0 until q.length).foreach(i => cacc += q(i).toDouble * cellCent(i).toFloat.toDouble)
      val expect = math.floor(cacc * 1e6).toLong + (0 until PqStore.M).map { s =>
        val cent = books((s, subCodes(s)))
        var acc = 0.0; var i = 0
        while (i < d) { acc += qr(s * d + i).toDouble * cent(i).toFloat.toDouble; i += 1 }
        math.floor(acc * 1e6).toLong
      }.sum
      assert(adc == expect, s"ADC mismatch for ($qid, $vid)")
    }
  }

  test("OPQ rotation: orthogonal, deterministic, and balanced by eigenvalue allocation") {
    PqStore.ensure(spark, sfDir, path)
    val r = spark.read.parquet(s"$path/rotation").collect()
      .map(x => x.getInt(0) -> x.getSeq[Double](1).toArray).toMap
    val dim = 64
    assert(r.size == dim && r.values.forall(_.length == dim))
    // R · Rᵀ = I: the ADC identity dot(q, res) = dot(R·q, R·res) holds only
    // for an orthogonal R
    for (i <- 0 until dim; j <- i until dim) {
      var acc = 0.0
      var k = 0
      while (k < dim) { acc += r(i)(k) * r(j)(k); k += 1 }
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(acc - expect) < 1e-9,
        s"R·Rᵀ[$i][$j] = $acc, expected $expect")
    }
    // the measured selection recorded its choice — and on this corpus's
    // near-independent synthetic coordinates the identity is the HONEST
    // winner (rotation measured 0.47 vs 0.55 recall@5 at sf0.01); the
    // correlated-fixture test below proves a real rotation wins when the
    // data calls for one
    val kind = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/_rotation_kind")).trim
    assert(Set("identity", "perm", "pca")(kind), s"unknown rotation kind $kind")
  }

  test("rotation selection: imbalanced variance picks a non-identity rotation that lowers quantization error") {
    // 8 loud coordinates that the identity split would dump into ONE
    // subspace; OPQ's allocation spreads them one per subspace — the
    // textbook win case, deterministic by seed. End-to-end through
    // writeFrom so the RECALL-based selection itself is under test.
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      (i.toLong,
        Array.tabulate(64)(j =>
          (rnd.nextGaussian() * (if (j < 8) 4.0 else 0.05)).toFloat).toSeq)
    }
    val vecs = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val zero = spark.range(1).select(lit(0).cast("int").as("cell_id"),
      lit((0 until 64).map(_ => 0.0).toArray).as("centroid"))
    val p = path + "_imb"
    try {
      PqStore.writeFrom(spark, p, vecs, zero)
      val kind = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$p/_rotation_kind")).trim
      assert(kind != "identity",
        s"imbalanced dims must select a rotation, got $kind")
      // and the chosen basis lowers the quantization error too
      val res = vecs.select($"vec_id", lit(0).as("cell_id"),
        $"embedding".as("residual"))
      val cands = PqStore.rotationCandidates(res, 64).toMap
      val idErr = PqStore.quantError(res, PqStore.trainFrom(res, 64, PqStore.NCodes))
      val rotRes = PqStore.rotateResiduals(res, cands(kind))
      val rotErr = PqStore.quantError(rotRes,
        PqStore.trainFrom(rotRes, 64, PqStore.NCodes))
      assert(rotErr < idErr,
        s"selected rotation error $rotErr must beat identity $idErr")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(p))
    }
  }

  test("tombstoned search: no dead id, dense ranks, k fills from live rows") {
    val dead = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % 17 === 3).select($"vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = PqStore.searchTombstoned(spark, sfDir, k = 5).collect()
    assert(got.nonEmpty)
    // 1. no tombstoned id ever surfaces
    assert(got.forall(r => !dead.contains(r.getLong(1))),
      "a tombstoned vec_id appeared in the result")
    // 2. ranks are dense 1..5 per query (the anti-join sits BELOW the
    //    window, so deletes never leave holes in the top-k)
    got.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(2).toLong).sorted.toSeq == (1L to 5L),
        s"qid $qid ranks not dense")
    }
    // 3. independent derivation through the OTHER code path: post-filter a
    //    deep full search and re-rank — must agree exactly (top-30 holds
    //    ≥5 live rows at a 1/17 death rate)
    val deep = PqStore.search(spark, PqStore.defaultPath(sfDir),
      VectorSearch.querySet(spark, sfDir, 5), k = 30).collect()
      .filter(r => !dead.contains(r.getLong(1)))
      .groupBy(_.getLong(0)).toSeq
      .flatMap { case (qid, rs) =>
        rs.sortBy(r => (-r.getLong(3), r.getLong(1))).take(5).zipWithIndex
          .map { case (r, i) => (qid, r.getLong(1), i + 1L, r.getLong(3)) }
      }.toSet
    val gotSet = got.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3))).toSet
    assert(gotSet == deep, "below-window anti-join != post-filtered deep search")
  }

  test("compaction: dead codes gone, codebooks byte-identical, search == tombstoned route") {
    val got = PqStore.compactQuery(spark, sfDir).collect()
    val cpt = PqStore.defaultPath(sfDir) + "_cpt"
    // 1. the delete set is physically gone, survivors all kept
    val codes = spark.read.parquet(s"$cpt/codes")
    assert(codes.filter($"vec_id" % 17 === 3).count() == 0,
      "a tombstoned row survived compaction")
    val liveN = Tables.embeddings(spark, sfDir).filter($"vec_id" % 17 =!= 3).count()
    assert(codes.select($"vec_id").distinct().count() == liveN)
    // 2. no retrain: codebooks copy over byte-identical
    def books(p: String) = spark.read.parquet(s"$p/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(books(cpt) == books(PqStore.defaultPath(sfDir)))
    // 3. the plain scan over the compacted store equals the query-time
    //    tombstone-filter route row-for-row
    val tomb = PqStore.searchTombstoned(spark, sfDir).collect()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3))).toSet
    assert(key(got) == key(tomb), "compacted search != tombstoned search")
  }

  test("SQL route: the one-text ADC search is row-identical to the DataFrame search") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows(PqStore.sqlPqQuery(spark, sfDir)) ==
      rows(PqStore.searchQuery(spark, sfDir)),
      "lake_sql_pq must be row-identical to knn_pq")
  }

  test("SQL route plan: the bounded LUT is the build side; the code table is NEVER broadcast") {
    // The scale contract of the one-text route: the per-query LUT
    // (nq·m·k bounded rows) broadcasts, the corpus-sized code table stays
    // scan-only on the streamed side. A silently-unbound hint inverts this
    // (Catalyst then broadcasts whichever side is locally smaller — at
    // 100 TB that degrades to shuffling the corpus). Pin the build side of
    // every hash join that touches the codes scan.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    PqStore.ensure(spark, sfDir, PqStore.defaultPath(sfDir))
    val plan = PqStore.sqlPqQuery(spark, sfDir).queryExecution.sparkPlan
    val codeJoins = plan.collect {
      case j: BroadcastHashJoinExec if j.toString.contains("/codes") =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        build.toString
    }
    assert(codeJoins.nonEmpty, "expected a broadcast hash join over the code scan")
    codeJoins.foreach { build =>
      assert(!build.contains("/codes"),
        s"the corpus-sized code table landed on the BUILD side:\n$build")
    }
  }

  test("residual encoding beats raw at the same bit budget, and clears the usability floor") {
    PqStore.ensure(spark, sfDir, path)
    val nq = 5
    val exact = VectorSearch.knnExact(spark, sfDir, k = 5, nq = nq).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = PqStore.search(spark, path, VectorSearch.querySet(spark, sfDir, nq), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall@5 = $recall — 48-bit residual ADC should catch ≥40%")
    // head-to-head vs RAW encoding at the identical 48-bit budget: a single
    // zero coarse centroid makes residual = v − 0 = v and cell term = 0 —
    // exactly the pre-residual scheme — so the comparison isolates the
    // encoding change (IndexIVFPQ's accuracy claim, measured in-engine)
    val rawPath = path + "_raw"
    try {
      val zero = spark.range(1).select(lit(0).cast("int").as("cell_id"),
        lit((0 until 64).map(_ => 0.0).toArray).as("centroid"))
      PqStore.writeFrom(spark, rawPath,
        Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding"), zero)
      val raw = PqStore.search(spark, rawPath, VectorSearch.querySet(spark, sfDir, nq), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rawRecall = (exact intersect raw).size.toDouble / exact.size
      assert(recall >= rawRecall,
        s"residual recall $recall must not drop below raw recall $rawRecall at the same bit budget")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(rawPath))
    }
  }

  test("maintenance: same-distribution batch absorbs with codebooks bit-identical; forced retrain re-trains and re-encodes") {
    val out = PqStore.maintainQuery(spark, sfDir).collect()
    assert(out.length == PqStore.M, "one census row per subspace")
    // even vs odd halves of the same table: same distribution → absorb
    assert(out.forall(_.getAs[String]("decision") == "absorb"),
      s"same-distribution batch must absorb, got ${out.map(_.getAs[String]("decision")).toSet}")
    assert(out.forall(r => r.getAs[Long]("tv_micro") < r.getAs[Long]("threshold_micro")))
    val half = PqStore.corpusHalfPath(sfDir)
    val maint = PqStore.defaultPath(sfDir) + "_maint"
    val halfBooks = spark.read.parquet(s"$half/codebooks")
      .orderBy($"sub", $"code").collect().map(_.toString).toSeq
    val maintBooks = spark.read.parquet(s"$maint/codebooks")
      .orderBy($"sub", $"code").collect().map(_.toString).toSeq
    assert(halfBooks == maintBooks,
      "absorb branch must keep the codebooks bit-identical")
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.head.getAs[Long]("codes_after") == n * PqStore.M,
      "post-action store serves every vector's codes")
    // forced retrain: fresh codebooks over the union corpus, all re-encoded
    val rb = PqStore.maintain(spark, sfDir, "retrain")
    try {
      val rbBooks = spark.read.parquet(s"$rb/codebooks")
        .orderBy($"sub", $"code").collect().map(_.toString).toSeq
      assert(rbBooks != halfBooks, "retrain must re-train the codebooks")
      assert(spark.read.parquet(s"$rb/codes").count() == n * PqStore.M,
        "retrain must re-encode the whole union corpus")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(rb))
    }
  }

  test("maintenance: a shifted batch crosses tau and the decision flips to retrain") {
    // tmp dir: even rows = the real corpus (trains the half store), odd
    // rows = one repeated point-mass vector — its codes concentrate on a
    // single (sub, code) per subspace, TV → 1 − p_build ≈ 10⁶, above τ at
    // any batch size (the cap in τ exists exactly for this)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqdrift").toString
    try {
      val e = Tables.embeddings(spark, sfDir)
      val shifted = e.filter($"vec_id" % 2 === 1)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(0.125 AS FLOAT))").as("embedding"),
          $"label")
      e.filter($"vec_id" % 2 === 0).select($"vec_id", $"embedding", $"label")
        .unionByName(shifted)
        .coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
      val out = PqStore.maintainQuery(spark, tmp).collect()
      assert(out.forall(_.getAs[String]("decision") == "retrain"),
        s"point-mass batch must retrain, tv=${out.map(_.getAs[Long]("tv_micro")).toSeq}")
      assert(out.exists(r => r.getAs[Long]("tv_micro") >= r.getAs[Long]("threshold_micro")))
    } finally {
      graft.streaming.StreamOps.rmTree(new java.io.File(tmp))
      graft.streaming.StreamOps.rmTree(
        new java.io.File(PqStore.corpusHalfPath(tmp)))
      graft.streaming.StreamOps.rmTree(
        new java.io.File(graft.sources.IndexStore.corpusHalfPath(tmp)))
      graft.streaming.StreamOps.rmTree(
        new java.io.File(PqStore.defaultPath(tmp) + "_maint"))
      graft.streaming.StreamOps.rmTree(
        new java.io.File(PqStore.defaultPath(tmp) + "_maint_rb"))
    }
  }

  test("layout compaction: fragmented absorb cells compact to the file target with rows conserved") {
    val out = PqStore.layoutCompactQuery(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_files") <= 1L),
      s"every cell must compact to the target, got ${out.map(_.getAs[Long]("n_files")).max}")
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == n * PqStore.M,
      "compaction must conserve every code row")
    assert(out.head.getAs[Long]("corpus_codes") == n * PqStore.M)
    // and the compacted store still serves: ADC search returns full ranks
    val work = PqStore.defaultPath(sfDir) + "_plc"
    val hits = PqStore.search(spark, work,
      graft.operators.VectorSearch.querySet(spark, sfDir, 3), 3)
    assert(hits.count() == 9)
  }

  test("refine: exact re-rank of the PQ shortlist, bit-identical sims, recall >= PQ") {
    val exact = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val refined = PqStore.searchRefined(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // wherever refine and exact agree on a pair, the refined similarity is
    // the same codegen dot — bit-identical micros
    refined.foreach { case (key, sim) =>
      exact.get(key).foreach(e => assert(e == sim, s"sim drift at $key"))
    }
    val pq = PqStore.search(spark, PqStore.defaultPath(sfDir),
        VectorSearch.querySet(spark, sfDir, 5), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rExact = exact.keySet
    val recallPq = (rExact intersect pq).size.toDouble / rExact.size
    val recallRef = (rExact intersect refined.keySet).size.toDouble / rExact.size
    assert(recallRef >= recallPq,
      s"refine recall $recallRef dropped below raw PQ $recallPq")
  }

  test("IVF-PQ: full rank sets, and every score equals the unpruned ADC score") {
    val ivfpq = PqStore.searchIvfPq(spark, sfDir).cache()
    val perQ = ivfpq.groupBy($"qid")
      .agg(count(lit(1)).as("n"), max($"rank").as("mr"))
      .as[(Long, Long, Int)].collect()
    assert(perQ.length == 5 && perQ.forall(t => t._2 == 5 && t._3 == 5))
    // IVF pruning narrows the candidate set but must never change a score:
    // each (qid, vec_id) ADC agrees with the exhaustive PQ search's value.
    val scores = ivfpq.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val full = PqStore.search(spark, PqStore.defaultPath(sfDir),
        VectorSearch.querySet(spark, sfDir, 5), k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    scores.foreach { case (key, v) => assert(full(key) == v, s"ADC drift at $key") }
  }

  test("a regenerated source cascades through the IVF marker into a PQ rebuild") {
    import graft.sources.IndexStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqfp").toString
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
    val ivfPath = IndexStore.defaultPath(srcDir)
    val pqPath = PqStore.defaultPath(srcDir)
    try {
      val full = Tables.embeddings(spark, sfDir)
      writeEmbeddings(full)
      PqStore.ensure(spark, srcDir, pqPath)
      val ivf1 = IndexStore.buildId(ivfPath)
      assert(ivf1.nonEmpty, "PQ ensure must have built the coarse quantizer")
      val n1 = spark.read.parquet(s"$pqPath/codes").count()
      assert(n1 == full.count() * PqStore.M)
      // regenerate the corpus: the PQ codes bake in the OLD cell assignment
      // and OLD codebooks — both must rebuild via the marker chain
      writeEmbeddings(full.filter($"vec_id" % 2 === 0))
      PqStore.ensure(spark, srcDir, pqPath)
      val ivf2 = IndexStore.buildId(ivfPath)
      assert(ivf2 != ivf1, "source change must rebuild the IVF store first")
      val recorded = java.nio.file.Files
        .readString(java.nio.file.Paths.get(s"$pqPath/_ivf_build_id")).trim
      assert(Some(recorded) == ivf2, "PQ store must record the NEW IVF build")
      assert(spark.read.parquet(s"$pqPath/codes").count() ==
        full.filter($"vec_id" % 2 === 0).count() * PqStore.M,
        "codes must cover exactly the regenerated corpus")
    } finally {
      graft.streaming.StreamOps.rmTree(new java.io.File(tmp))
      graft.streaming.StreamOps.rmTree(new java.io.File(ivfPath))
      graft.streaming.StreamOps.rmTree(new java.io.File(pqPath))
    }
  }
}
