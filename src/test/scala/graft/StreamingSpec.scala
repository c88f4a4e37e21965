package graft

import org.apache.spark.sql.functions._
import graft.operators.Temporal
import graft.streaming.StreamOps

/** §2.10: batch ≡ stream agreement — the same transformation function run
  * through Structured Streaming must produce the batch result; stateful
  * sessionization must agree with the window-based batch sessionize.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streamHourly equals the batch hourly aggregate") {
    val streamed = StreamOps.streamHourly(spark, sfDir)
    val batch = Temporal.eventsHourly(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream interval join equals the batch interval join") {
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"), col("ts").as("view_ts"))
    val batch = StreamOps.clickViewIntervalJoin(clicks, views)
      .orderBy(col("click_id"), col("view_id")).collect().toSeq
    val stream = StreamOps.streamIntervalJoin(spark, sfDir).collect().toSeq
    assert(stream == batch, s"stream ${stream.size} rows vs batch ${batch.size}")
    assert(batch.nonEmpty, "join should produce pairs on the testdata")
  }

  test("mergeKeepLatest keeps the newest version per key and leaves no swap debris") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-merge").toString
    try {
      val store = s"$tmp/store"
      val v1 = spark.range(0, 10).select($"id".as("event_id"), lit("old").as("payload"))
      val v2 = spark.range(5, 15).select($"id".as("event_id"), lit("new").as("payload"))
      StreamOps.mergeKeepLatest(spark, v1, store, version = 1L)
      StreamOps.mergeKeepLatest(spark, v2, store, version = 2L)
      val got = spark.read.parquet(store)
      assert(got.count() == 15, "union of keys")
      assert(got.filter($"event_id" >= 5 && $"event_id" < 10 && $"payload" =!= "new").count() == 0,
        "overlapping keys take the later version")
      assert(!new java.io.File(store + ".tmp").exists(), "tmp snapshot removed")
      assert(!new java.io.File(store + ".old").exists(), "aside snapshot removed")
    } finally StreamOps.rmTree(new java.io.File(tmp))
  }

  test("foreachBatch upsert store converges to the keyed snapshot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store").toString
    try {
      val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      StreamOps.foreachBatchUpsert(spark, sfDir, store, ckpt)
      val got = spark.read.parquet(store)
      val want = Tables.events(spark, sfDir)
      assert(got.count() == want.count(), "all events ingested, one per key")
      assert(got.select($"event_id").distinct().count() == want.count())
    } finally StreamOps.rmTree(new java.io.File(tmp))
  }

  test("foreachBatch upsert resumes from the checkpoint: a restart processes only new files") {
    // Write a DataFrame as ONE parquet file at `target` (the file-stream
    // source's `events.parquet*` glob matches plain files like the
    // driver-generated testdata).
    def writeOne(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
      val staging = java.nio.file.Files.createTempDirectory("graft-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(target))
      StreamOps.rmTree(new java.io.File(staging))
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-restart").toString
    try {
      val src = s"$tmp/src"; new java.io.File(src).mkdirs()
      val store = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
      // Raw read keeps ts in the file's native physical type, so the
      // re-written halves carry the same flavor the adaptive stream schema
      // probe (readEventsStream) will see.
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      writeOne(raw.filter($"event_id" % 2 === 0), s"$src/events.parquet.a")
      StreamOps.foreachBatchUpsert(spark, src, store, ckpt)
      assert(spark.read.parquet(store).count() == raw.filter($"event_id" % 2 === 0).count())
      // "restart": a second run over the SAME checkpoint after a new file lands
      writeOne(raw.filter($"event_id" % 2 === 1), s"$src/events.parquet.b")
      StreamOps.foreachBatchUpsert(spark, src, store, ckpt)
      val after = spark.read.parquet(store).cache()
      assert(after.count() == raw.count(), "every event ingested exactly once across the restart")
      assert(after.select($"event_id").distinct().count() == raw.count())
      // The checkpoint, not the data, prevented reprocessing: file A's rows
      // keep their run-1 merge version, file B's carry a later batch id.
      assert(after.filter($"event_id" % 2 === 0 && $"v" > 0).count() == 0,
        "file A was re-merged after the restart — offsets did not resume")
      assert(after.filter($"event_id" % 2 === 1).agg(min($"v")).head.getLong(0) >= 1)
      after.unpersist(blocking = false)
    } finally StreamOps.rmTree(new java.io.File(tmp))
  }

  test("stateful sessionization agrees with the batch window sessionize") {
    val batch = Temporal.sessionize(spark, sfDir)
      .select($"user_id", $"session_id", $"n_events", $"start_epoch", $"end_epoch")
    val stateful = StreamOps.sessionizeStateful(spark, Tables.events(spark, sfDir))
      .toDF().select($"userId".as("user_id"), $"sessionId".as("session_id"),
        $"nEvents".as("n_events"), $"startEpoch".as("start_epoch"), $"endEpoch".as("end_epoch"))
    assert(stateful.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stateful).count() == 0)
  }

  test("stateful funnel agrees with the batch single-pass window funnel") {
    val batch = Temporal.eventsFunnel(spark, sfDir)
      .select($"user_id", $"view_epoch",
        coalesce($"click_epoch", lit(-1L)).as("click_epoch"),
        coalesce($"purchase_epoch", lit(-1L)).as("purchase_epoch"))
    // stateful epochs are µs (full ts precision); floor to the batch's seconds
    def sec(c: org.apache.spark.sql.Column) =
      when(c >= 0, floor(c / 1000000L).cast("long")).otherwise(lit(-1L))
    val stateful = StreamOps.funnelStateful(spark, Tables.events(spark, sfDir))
      .toDF().select($"userId".as("user_id"), sec($"viewEpoch").as("view_epoch"),
        sec($"clickEpoch").as("click_epoch"), sec($"purchaseEpoch").as("purchase_epoch"))
    assert(stateful.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stateful).count() == 0)
  }

  test("dedup-on-ingest: stream equals the batch keep-set, and drops really clear tau") {
    import graft.sources.IndexStore
    val kept = StreamOps.streamDedupIngest(spark, sfDir).cache()
    // batch twin over the same persisted half store (ensured by the stream call)
    val half = IndexStore.corpusHalfPath(sfDir)
    val queries = Tables.embeddings(spark, sfDir).filter($"vec_id" % 2 === 1)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val n1 = IndexStore.searchPruned(spark, half, queries, k = 1)
      .select($"qid", $"vec_id".as("nid"), $"sim_micro".as("nm"))
    val expect = queries.select($"qid").join(n1, Seq("qid"), "left")
      .filter($"nm".isNull || $"nm" < 300000L)
      .select($"qid".as("vec_id"),
        coalesce($"nid", lit(-1L)).as("nearest_id"),
        coalesce($"nm", lit(-1L)).as("nearest_micro"))
    assert(kept.exceptAll(expect).isEmpty && expect.exceptAll(kept).isEmpty,
      "streaming keep-set must equal the batch replay")
    // every survivor is genuinely below tau; the filter did real work
    assert(kept.filter($"nearest_micro" >= 300000L).count() == 0)
    assert(kept.count() < queries.count(), "some near-duplicates must be dropped at tau=0.30")
    kept.unpersist(blocking = false)
  }

  test("dedup-on-ingest keep-set is independent of the micro-batch split") {
    // Re-house the embeddings table as a DIRECTORY of two part files so
    // maxFilesPerTrigger=1 forces at least two micro-batches, then compare
    // against the single-batch run over the same source: the dedup
    // reference is the static corpus-half store, so the keep set must not
    // depend on how the crawl arrives.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingestsplit").toString
    try {
      val e = Tables.embeddings(spark, sfDir)
      e.filter($"vec_id" < 250).coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
      e.filter($"vec_id" >= 250).coalesce(1).write
        .mode("append").parquet(s"$tmp/embeddings.parquet")
      val single = StreamOps.streamDedupIngest(spark, tmp)
      val multi = StreamOps.streamDedupIngest(spark, tmp,
        options = Map("maxFilesPerTrigger" -> "1"))
      assert(single.exceptAll(multi).isEmpty && multi.exceptAll(single).isEmpty,
        "keep-set must be identical under any batch split")
    } finally {
      StreamOps.rmTree(new java.io.File(tmp))
      StreamOps.rmTree(new java.io.File(
        graft.sources.IndexStore.corpusHalfPath(tmp))) // per-run store, don't accumulate
    }
  }

  test("streaming store absorb: post-stream store equals the batch absorb, under any split") {
    import graft.sources.IndexStore
    // Re-house the embeddings as two part files so maxFilesPerTrigger=1
    // forces >=2 micro-batches; the absorb assigns against FIXED centroids,
    // so the post-stream search result (and the store content behind it)
    // must be identical under any batch split.
    val tmp = java.nio.file.Files.createTempDirectory("graft-absorbsplit").toString
    try {
      val e = Tables.embeddings(spark, sfDir).filter($"vec_id" < 400)
      e.filter($"vec_id" < 200).coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
      e.filter($"vec_id" >= 200).coalesce(1).write
        .mode("append").parquet(s"$tmp/embeddings.parquet")
      val single = StreamOps.streamStoreAbsorb(spark, tmp)
      val singleRows = IndexStore.read(spark,
        IndexStore.defaultPath(tmp) + "_sab")._1
        .select($"vec_id", $"cell_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val multi = StreamOps.streamStoreAbsorb(spark, tmp,
        options = Map("maxFilesPerTrigger" -> "1"))
      val multiRows = IndexStore.read(spark,
        IndexStore.defaultPath(tmp) + "_sab")._1
        .select($"vec_id", $"cell_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(single.exceptAll(multi).isEmpty && multi.exceptAll(single).isEmpty,
        "post-stream search result must be identical under any batch split")
      assert(singleRows == multiRows,
        "post-stream store (vec_id, cell_id) content must be split-independent")
      // batch twin: absorbing the whole odd set at once into a fresh clone
      // of the half store yields the same (vec_id, cell_id) population
      val half = IndexStore.corpusHalfPath(tmp)
      val batchPath = IndexStore.defaultPath(tmp) + "_sab_batch"
      IndexStore.cloneStore(half, batchPath)
      IndexStore.absorb(spark, batchPath,
        Tables.embeddings(spark, tmp).filter($"vec_id" % 2 === 1))
      val batchRows = IndexStore.read(spark, batchPath)._1
        .select($"vec_id", $"cell_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(batchRows == multiRows, "stream absorb must equal the one-shot batch absorb")
    } finally {
      StreamOps.rmTree(new java.io.File(tmp))
      StreamOps.rmTree(new java.io.File(graft.sources.IndexStore.corpusHalfPath(tmp)))
      StreamOps.rmTree(new java.io.File(graft.sources.IndexStore.defaultPath(tmp) + "_sab"))
      StreamOps.rmTree(new java.io.File(graft.sources.IndexStore.defaultPath(tmp) + "_sab_batch"))
    }
  }

  test("streaming PQ absorb: post-stream codes equal the one-shot batch absorb, under any split") {
    import graft.sources.{IndexStore, PqStore}
    // Encoding is per-row against FIXED codebooks and fixed coarse
    // centroids, so the post-stream code population must be independent
    // of the micro-batch split and equal the one-shot batch absorb.
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqsplit").toString
    try {
      val e = Tables.embeddings(spark, sfDir).filter($"vec_id" < 400)
      e.filter($"vec_id" < 200).coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
      e.filter($"vec_id" >= 200).coalesce(1).write
        .mode("append").parquet(s"$tmp/embeddings.parquet")
      val work = PqStore.defaultPath(tmp) + "_pab"
      def codesOf(p: String) = spark.read.parquet(s"$p/codes")
        .select($"vec_id", $"sub", $"code", $"cell_id".cast("int").as("cell_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      val single = StreamOps.streamPqAbsorb(spark, tmp)
      val singleCodes = codesOf(work)
      val multi = StreamOps.streamPqAbsorb(spark, tmp,
        options = Map("maxFilesPerTrigger" -> "1"))
      val multiCodes = codesOf(work)
      assert(single.exceptAll(multi).isEmpty && multi.exceptAll(single).isEmpty,
        "post-stream ADC search result must be identical under any batch split")
      assert(singleCodes == multiCodes,
        "post-stream code population must be split-independent")
      // batch twin: absorbing the whole odd set at once into a fresh
      // clone of the half store yields the same code population
      val batchPath = PqStore.defaultPath(tmp) + "_pab_batch"
      IndexStore.cloneStore(PqStore.corpusHalfPath(tmp), batchPath)
      PqStore.absorb(spark, batchPath,
        Tables.embeddings(spark, tmp).filter($"vec_id" % 2 === 1))
      assert(codesOf(batchPath) == multiCodes,
        "stream absorb must equal the one-shot batch absorb")
    } finally {
      StreamOps.rmTree(new java.io.File(tmp))
      StreamOps.rmTree(new java.io.File(graft.sources.PqStore.corpusHalfPath(tmp)))
      StreamOps.rmTree(new java.io.File(graft.sources.PqStore.defaultPath(tmp) + "_pab"))
      StreamOps.rmTree(new java.io.File(graft.sources.PqStore.defaultPath(tmp) + "_pab_batch"))
      StreamOps.rmTree(new java.io.File(graft.sources.IndexStore.corpusHalfPath(tmp)))
    }
  }

  test("streaming store absorb: absorbed rows land in the cell the absorb contract dictates") {
    import graft.sources.IndexStore
    import graft.operators.VectorSearch
    // cell agreement against the canonical half-store centroids on the real
    // sf dir (the registered query ran in the suite or runs here)
    StreamOps.streamStoreAbsorb(spark, sfDir)
    val work = IndexStore.defaultPath(sfDir) + "_sab"
    val centroids = spark.read.parquet(s"${IndexStore.corpusHalfPath(sfDir)}/centroids")
    val odds = Tables.embeddings(spark, sfDir).filter($"vec_id" % 2 === 1)
    val expected = VectorSearch.assignCells(odds, centroids)
      .select($"vec_id", $"cell_id").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = IndexStore.read(spark, work)._1
      .filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"cell_id").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got.size == expected.size, "every odd row absorbed exactly once")
    assert(got == expected, "absorbed cell assignment must equal assignCells against fixed centroids")
    // and the even half is untouched by the stream
    val evenN = IndexStore.read(spark, work)._1.filter($"vec_id" % 2 === 0).count()
    val halfN = IndexStore.read(spark, IndexStore.corpusHalfPath(sfDir))._1.count()
    assert(evenN == halfN, "pristine half rows pass through the clone unchanged")
  }

  test("streaming graph absorb: single-batch stream equals the one-shot batch absorb") {
    import graft.sources.{GraphIndex, IndexStore}
    // Default options on the single-file source → ONE micro-batch, so the
    // post-stream graph must be EDGE-FOR-EDGE the direct GraphIndex.absorb
    // of the whole crawl slice into a fresh half-store clone: the streaming
    // plumbing (clone, markers, sidecar, probes) must add nothing.
    val out = StreamOps.streamGraphAbsorb(spark, sfDir)
    assert(out.count() == 25, "5 crawl queries x top-5")
    val work = GraphIndex.defaultPath(sfDir) + "_gab"
    val streamed = spark.read.parquet(s"$work/edges")
      .select($"src", $"dst").as[(Long, Long)].collect().toSet
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val batchPath = GraphIndex.defaultPath(sfDir) + "_gab_batch"
    try {
      IndexStore.cloneStore(GraphIndex.corpusHalfPath(sfDir), batchPath)
      GraphIndex.absorb(spark, batchPath,
        emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 10 === 1))
      val direct = spark.read.parquet(s"$batchPath/edges")
        .select($"src", $"dst").as[(Long, Long)].collect().toSet
      assert(streamed == direct, "stream absorb must equal the one-shot batch absorb")
    } finally StreamOps.rmTree(new java.io.File(batchPath))
    // nodes_after audit: every STORE node (even ∪ crawl) is a src post-stream
    assert(out.head.getAs[Long]("nodes_after") ==
      emb.filter($"vec_id" % 2 === 0 || $"vec_id" % 10 === 1).count())
    // no never-inserted node may surface in results (store-corpus entries)
    assert(out.collect().forall { r =>
      val id = r.getLong(1); id % 2 == 0 || id % 10 == 1
    }, "results must come from the store corpus only")
  }

  test("streaming graph absorb: multi-batch run keeps edge recall >= 0.95 and stays searchable") {
    import graft.sources.GraphIndex
    import graft.operators.VectorSearch
    // Re-house the embeddings as two part files so maxFilesPerTrigger=1
    // forces >=2 micro-batches. NN-Descent absorb is NOT split-invariant
    // (later batches link against earlier arrivals), so the contract here
    // is QUALITY, not equality: the post-stream graph's edge recall vs the
    // true top-M of the full corpus stays within the build's own floor —
    // the reference's Add Data loop makes the same trade, inserting into
    // an HNSW whose structure depends on arrival order.
    val tmp = java.nio.file.Files.createTempDirectory("graft-gabsplit").toString
    try {
      val e = Tables.embeddings(spark, sfDir)
      e.filter($"vec_id" < 250).coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
      e.filter($"vec_id" >= 250).coalesce(1).write
        .mode("append").parquet(s"$tmp/embeddings.parquet")
      val out = StreamOps.streamGraphAbsorb(spark, tmp,
        options = Map("maxFilesPerTrigger" -> "1"))
      assert(out.count() == 25)
      // >=2 batches actually ran (one marker per micro-batch)
      val work = GraphIndex.defaultPath(tmp) + "_gab"
      val markers = Option(new java.io.File(work).listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("_absorbed_batch_"))
      assert(markers >= 2, s"two part files + maxFilesPerTrigger=1 must give >=2 batches, got $markers")
      // quality vs the true top-M of the STORE corpus (even ∪ crawl slice)
      val emb = Tables.embeddings(spark, tmp).select($"vec_id", $"embedding")
        .filter($"vec_id" % 2 === 0 || $"vec_id" % 10 === 1)
      val exact = VectorSearch.knnDeclarative(
        emb.select($"vec_id".as("qid"), $"embedding".as("qvec")), emb, GraphIndex.M)
        .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
      val got = spark.read.parquet(s"$work/edges")
        .select($"src", $"dst").as[(Long, Long)].collect().toSet
      val recall = (exact & got).size.toDouble / exact.size
      assert(recall >= 0.95, f"post-stream edge recall@${GraphIndex.M} = $recall%.3f")
    } finally {
      StreamOps.rmTree(new java.io.File(tmp))
      StreamOps.rmTree(new java.io.File(GraphIndex.corpusHalfPath(tmp)))
      StreamOps.rmTree(new java.io.File(GraphIndex.defaultPath(tmp) + "_gab"))
    }
  }

  test("bloom ingest gate: streaming keep-set equals the batch novel set, under any split") {
    val kept = StreamOps.streamBloomIngest(spark, sfDir)
    val novel = graft.operators.Dedup.bloomIncrementalDedup(spark, sfDir)
      .filter($"dup_of".isNull).select($"doc_id")
    assert(kept.exceptAll(novel).isEmpty && novel.exceptAll(kept).isEmpty,
      "streaming keep-set must equal the batch bloom dedup's novel set")
    // micro-batch split invariance: two part files + maxFilesPerTrigger=1
    // forces >=2 batches; the gate probes a static sidecar + key frame, so
    // the keep set must not depend on how the crawl arrives
    val tmp = java.nio.file.Files.createTempDirectory("graft-bloomsplit").toString
    try {
      val d = Tables.documents(spark, sfDir)
      d.filter($"doc_id" < 250).coalesce(1).write.parquet(s"$tmp/documents.parquet")
      d.filter($"doc_id" >= 250).coalesce(1).write
        .mode("append").parquet(s"$tmp/documents.parquet")
      val single = StreamOps.streamBloomIngest(spark, tmp)
      val multi = StreamOps.streamBloomIngest(spark, tmp,
        options = Map("maxFilesPerTrigger" -> "1"))
      assert(single.exceptAll(multi).isEmpty && multi.exceptAll(single).isEmpty,
        "keep-set must be identical under any batch split")
    } finally {
      StreamOps.rmTree(new java.io.File(tmp))
      StreamOps.rmTree(new java.io.File(graft.sources.BloomSidecar.root(tmp)))
    }
  }

  test("streaming kNN search equals the batch probed search over the same store") {
    import graft.sources.IndexStore
    import graft.operators.VectorSearch
    val streamed = StreamOps.streamKnnSearch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty)
    // the stream call ensured the store — the batch twin searches it directly
    val path = IndexStore.defaultPath(sfDir)
    val batch = IndexStore
      .searchPruned(spark, path, VectorSearch.querySet(spark, sfDir, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3))).toSeq
    assert(streamed == batch, "AvailableNow streaming execution must equal the batch search")
  }

  test("continuous-trigger kNN: every ProcessingTime batch serves the exact probed top-k") {
    import graft.sources.IndexStore
    import graft.operators.VectorSearch
    val got = StreamOps.streamKnnRate(spark, sfDir, minBatches = 3)
    val batches = got.map(_._1).distinct
    assert(batches.size >= 3, s"wanted >=3 non-empty ProcessingTime batches, got $batches")
    // expected: the batch-side probed search over the same pool — per-batch
    // results must match it for every qid the batch contained
    val path = IndexStore.defaultPath(sfDir)
    val expected = IndexStore
      .searchPruned(spark, path, VectorSearch.querySet(spark, sfDir, 5))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2).toLong, r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).toSeq).toMap
    got.groupBy(t => (t._1, t._2)).foreach { case ((b, qid), rows) =>
      val gotRanks = rows.map(t => (t._3, t._4, t._5)).sortBy(_._2)
      assert(gotRanks == expected(qid), s"batch $b qid $qid diverged: $gotRanks")
    }
  }

  test("streaming vector ingest fills the clustered store end-to-end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    try {
      val centroids = graft.operators.VectorSearch.kmeansFit(
        Tables.embeddings(spark, sfDir), nlist = 4, iters = 2)
      StreamOps.streamingVectorIngest(spark, sfDir, centroids,
        s"$tmp/store", s"$tmp/ckpt")
      val store = spark.read.parquet(s"$tmp/store")
      assert(store.count() == Tables.documents(spark, sfDir).count())
      assert(store.select($"cell_id").distinct().count() > 1, "multiple cells hit")
      // every ingested vector is unit-norm (embed → normalize happened)
      val norms = store.select(
        graft.functions.VectorFunctions.micro(
          graft.functions.VectorFunctions.norm2($"embedding")).as("n"))
        .distinct().as[Long].collect()
      assert(norms.forall(n => n >= 999990L && n <= 1000000L))
    } finally StreamOps.rmTree(new java.io.File(tmp))
  }

  test("stateful CDC apply agrees with the batch windowed cdcApply") {
    val batch = Temporal.cdcApply(spark, sfDir)
    val stateful = StreamOps.cdcStateful(spark, Tables.events(spark, sfDir))
      .toDF().select($"userId".as("user_id"), $"nEvents".as("n_events"),
        $"sumValueC".as("sum_value_c"), $"lastType".as("last_type"),
        floor($"lastUs" / 1000000L).cast("long").as("last_ep"),
        $"nTombstones".as("n_tombstones"))
    assert(stateful.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stateful).count() == 0)
    assert(batch.count() > 0)
  }

  test("streamCdcApply (real streaming run) equals the batch cdcApply") {
    val streamed = StreamOps.streamCdcApply(spark, sfDir)
    val batch = Temporal.cdcApply(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("CDC tombstone semantics: reset state, count kept, trailing tombstone deletes the key") {
    import java.sql.Timestamp
    val log = Seq(
      // user 1: upsert, tombstone, upsert — survives with post-tombstone state only
      (1L, Timestamp.valueOf("2024-01-01 00:00:01"), 10L, "view", 1.50),
      (1L, Timestamp.valueOf("2024-01-01 00:00:02"), 11L, "error", 9.99),
      (1L, Timestamp.valueOf("2024-01-01 00:00:03"), 12L, "click", 2.25),
      // user 2: mutations then a trailing tombstone — DELETED, absent
      (2L, Timestamp.valueOf("2024-01-01 00:00:04"), 13L, "view", 5.00),
      (2L, Timestamp.valueOf("2024-01-01 00:00:05"), 14L, "error", 0.00),
      // user 3: never touched by a tombstone
      (3L, Timestamp.valueOf("2024-01-01 00:00:06"), 15L, "purchase", 7.75),
      (3L, Timestamp.valueOf("2024-01-01 00:00:07"), 16L, "view", 0.25))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = StreamOps.cdcStateful(spark, log).toDF()
      .select($"userId".as[Long], $"nEvents".as[Long], $"sumValueC".as[Long],
        $"lastType".as[String], $"nTombstones".as[Long])
      .collect().map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    assert(got == Set(
      (1L, 1L, 225L, "click", 1L),   // post-tombstone click only, cents exact
      (3L, 2L, 800L, "view", 0L)),   // user 2 deleted
      got.toString)
  }

  test("streaming dedup drops in-batch duplicate keys") {
    val doubled = Tables.events(spark, sfDir).unionByName(Tables.events(spark, sfDir))
    // batch twin of streamDedup's dropDuplicates semantics
    assert(doubled.dropDuplicates("event_id").count() ==
      Tables.events(spark, sfDir).count())
  }

  test("streamDedupRun (real streaming execution) equals the batch DISTINCT key set") {
    val streamed = StreamOps.streamDedupRun(spark, sfDir)
      .select($"user_id".as[Long], $"event_type".as[String], $"hour_epoch".as[Long])
      .collect().toSet
    val batch = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hour_epoch"))
      .distinct()
      .select($"user_id".as[Long], $"event_type".as[String], $"hour_epoch".as[Long])
      .collect().toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    // and the collapse is real: duplicates existed in the input
    assert(batch.size < Tables.events(spark, sfDir).count())
  }

  test("sliding-window trending: stream equals the batch two-window replay") {
    val streamed = StreamOps.streamTrending(spark, sfDir)
      .select($"window_epoch".as[Long], $"event_type".as[String],
        $"n".as[Long], $"sum_value_c".as[Long], $"rank".as[Long]).collect().toSeq
    val base = Tables.events(spark, sfDir)
      .select(unix_timestamp(date_trunc("hour", $"ts")).as("s"), $"event_type", $"value")
      .select(explode(array($"s", $"s" - 3600)).as("window_epoch"), $"event_type", $"value")
      .groupBy($"window_epoch", $"event_type")
      .agg(count(lit(1)).as("n"),
        (sum($"value".cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy($"window_epoch").orderBy($"n".desc, $"event_type")
    val batch = base.withColumn("rank", row_number().over(rankW))
      .filter($"rank" <= 3)
      .orderBy($"window_epoch", $"rank")
      .select($"window_epoch".as[Long], $"event_type".as[String],
        $"n".as[Long], $"sum_value_c".as[Long], $"rank".as[Long]).collect().toSeq
    assert(streamed == batch)
  }

  test("stream-static enrichment join equals the batch broadcast join") {
    val streamed = StreamOps.streamEnrich(spark, sfDir)
      .select($"c_mktsegment".as[String], $"event_type".as[String],
        $"n".as[Long], $"sum_value_c".as[Long]).collect().toSet
    val dim = Tables.customer(spark, sfDir).select($"c_custkey", $"c_mktsegment")
    val batch = Tables.events(spark, sfDir)
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n"),
        (sum($"value".cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .select($"c_mktsegment".as[String], $"event_type".as[String],
        $"n".as[Long], $"sum_value_c".as[Long]).collect().toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }
}
