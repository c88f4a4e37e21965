package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm up classloading/codegen so the first timed query isn't charged
    // for session startup.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // UNTIMED warm phase: run every registered query once before the timing
    // loop. Many queries `ensure*` persisted artifacts on first touch (IVF /
    // graph / PQ / partitioned / sorted stores, sketch exports, Bloom
    // sidecars, the SCD2/agg bases) — in a fresh environment (`data/` is
    // gitignored) those builds land inside the first timed execution. The
    // artifacts are part of the engine, but the BUILD is not the QUERY,
    // exactly as FAISS excludes `train` from search timings
    // (reference `FAISS/PlainDemo/pipeline.py:315-321` vs :232-263) — so the
    // warm pass pays every first-touch build (plus per-query JIT) outside
    // the timed path. Running the queries themselves, rather than an
    // enumerated ensure list, is deliberate: any future query's artifact is
    // warmed automatically, with no registry to drift. Errors are ignored
    // here — a broken query must surface as an ERROR in the timed loop, not
    // abort the warm pass for everyone else. Only NON-fatal errors, though:
    // an OutOfMemoryError or InterruptedException swallowed here would let
    // a possibly-corrupted JVM proceed into the timed loop and report
    // garbage as measurements.
    // TIMED ARTIFACT BUILDS: the warm phase correctly keeps first-touch
    // builds out of the timed query loop, but that made a build-time
    // regression invisible to every committed number. So the enumerated
    // persisted artifacts are ensure()'d HERE, each under its own clock,
    // and the per-artifact seconds ship as `build_sec` in the output —
    // the analog of FAISS reporting `train` and `add` as tracked
    // operations in their own right (reference
    // `FAISS/PlainDemo/pipeline.py:106-108, 315-321`). In a warm
    // environment every entry reads ~0 (the `_src_fp`/marker checks
    // no-op); in the driver's cold sandbox these ARE the build costs.
    // Artifacts not listed (per-sketch exports, bloom sidecars, SQL
    // views) still warm inside the query loop below and stay inside
    // warm_sec. NonFatal-guarded like the warm loop: a broken build must
    // surface as its queries' ERRORs, not abort the bench.
    val warmT0 = System.nanoTime()
    val builders: Seq[(String, () => Unit)] = Seq(
      "ivf_store" -> (() => graft.sources.IndexStore.ensure(
        spark, sfDir, graft.sources.IndexStore.defaultPath(sfDir))),
      "ivf_half" -> (() => { graft.sources.IndexStore.ensureCorpusHalf(spark, sfDir); () }),
      "graph_index" -> (() => graft.sources.GraphIndex.ensure(
        spark, sfDir, graft.sources.GraphIndex.defaultPath(sfDir))),
      "graph_half" -> (() => { graft.sources.GraphIndex.ensureHalf(spark, sfDir); () }),
      "pq_store" -> (() => graft.sources.PqStore.ensure(
        spark, sfDir, graft.sources.PqStore.defaultPath(sfDir))),
      "pq_half" -> (() => { graft.sources.PqStore.ensureCorpusHalf(spark, sfDir); () }),
      "band_index" -> (() => { graft.operators.Dedup.ensureBandIndex(spark, sfDir, 12, 4); () }),
      "partitioned_store" -> (() => { graft.sources.PartitionedStore.ensure(spark, sfDir); () }),
      "versioned_store" -> (() => graft.sources.PartitionedStore.ensureVersioned(
        spark, sfDir, graft.sources.PartitionedStore.defaultPath(sfDir) + "_tt")),
      "sorted_doc_store" -> (() => { graft.sources.SortedLayout.ensureDocStore(spark, sfDir); () }),
      "sorted_absorb_store" -> (() => { graft.sources.SortedLayout.ensureAbsorbStore(spark, sfDir); () }),
      "grays_store" -> (() => { graft.operators.Multimodal.ensureGrays(spark, sfDir); () }),
      "scd2_base" -> (() => { graft.operators.Temporal.ensureScd2Base(spark, sfDir); () }),
      "agg_base" -> (() => { graft.operators.Relational.ensureAggBase(spark, sfDir); () })
    )
    val buildSec: Seq[(String, Double)] = builders.map { case (name, f) =>
      val t0 = System.nanoTime()
      try f() catch { case scala.util.control.NonFatal(_) => () }
      name -> (System.nanoTime() - t0) / 1e9
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    val warmSec = (System.nanoTime() - warmT0) / 1e9
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    // GRAFT_PROFILE=1: count Spark jobs per query (fixed scheduling
    // overhead attribution — every job is ~10-30 ms of driver round-trip
    // at local[N] regardless of data) alongside graft.Profiling's
    // driver-side counters; dumped to BENCH_PROFILE.json after the loop.
    val jobCounter = new java.util.concurrent.atomic.AtomicLong
    if (graft.Profiling.enabled)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet(); ()
        }
      })
    graft.Profiling.reset()
    val queryJobs = scala.collection.mutable.LinkedHashMap[String, Long]()
    // Sorted order: deterministic run-to-run attribution of JVM warm-up
    // and page-cache effects. Each query runs twice and reports the min —
    // the host shows ±30% noise and min-of-2 damps it for both the anchor
    // run and later comparisons. A failure on EITHER run is reported as an
    // error (never a near-zero timing): a query that breaks only at bench
    // scale must show up as broken, not fast.
    val results: Seq[(String, Either[String, Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        def once(): Either[String, Double] = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
          }
        }
        val r1 = once()
        val j0 = jobCounter.get()
        val r2 = once()
        // jobs of the SECOND (warm) run — steady-state job count, free of
        // first-touch artifact builds.
        if (graft.Profiling.enabled) queryJobs(name) = jobCounter.get() - j0
        val r = (r1, r2) match {
          case (Right(a), Right(b)) => Right(math.min(a, b))
          case (Left(e), _) => Left(e)
          case (_, Left(e)) => Left(e)
        }
        // Drop caches a query may have pinned (e.g. dedup shingle/signature
        // tables) so cached blocks don't accumulate across the sweep.
        spark.catalog.clearCache()
        name -> r
      }
    if (graft.Profiling.enabled) {
      val perQ = results.collect { case (k, Right(v)) =>
        s""""$k":{"sec":${f"$v%.3f"},"jobs":${queryJobs.getOrElse(k, -1L)}}"""
      }.mkString("{", ",", "}")
      val ctr = graft.Profiling.report().map { case (k, calls, sec) =>
        s""""$k":{"calls":$calls,"sec":${f"$sec%.3f"}}"""
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_PROFILE.json"),
        (s"""{"queries":$perQ,"counters":$ctr}""" + "\n").getBytes("UTF-8"))
    }
    val qs = results.collect { case (k, Right(v)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) => s"\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    val nErr = results.count(_._2.isLeft)
    def r3(v: Double): String = f"$v%.3f"
    // Like-for-like anchor ratio: ANCHORS.json pins each query's quiet
    // timing at the round-10 HEAD. The TOTAL across rounds measures suite
    // growth (every round adds queries the anchor predates); the ratio
    // over the SHARED query set measures the engine. Convention: see
    // BASELINE.md "Per-query anchors".
    val anchors: Map[String, Double] = {
      val f = java.nio.file.Paths.get("ANCHORS.json")
      if (java.nio.file.Files.exists(f)) {
        val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val parsed = """"([A-Za-z0-9_]+)":\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // Every anchor key must name a registered query — if the file ever
        // gains metadata/nested fields, their numbers must not be silently
        // swallowed into the shared_vs_anchor ratio.
        val registered = graft.SparkEntry.queries.keySet
        val strays = parsed.keySet -- registered
        if (strays.nonEmpty)
          System.err.println(
            s"WARN: ANCHORS.json keys not matching any registered query " +
              s"(ignored): ${strays.toSeq.sorted.mkString(", ")}")
        parsed.view.filterKeys(registered).toMap
      } else Map.empty
    }
    val shared = results.collect { case (k, Right(v)) if anchors.contains(k) => (v, anchors(k)) }
    val sva =
      if (shared.isEmpty) ""
      else {
        val now = shared.map(_._1).sum
        val anc = shared.map(_._2).sum
        s""","shared_vs_anchor":{"n_shared":${shared.size},"now_sec":${r3(now)},"anchor_sec":${r3(anc)},"ratio":${r3(now / anc)}}"""
      }
    val buildJson = buildSec
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_errors":$nErr$sva,"warm_sec":${r3(warmSec)},"build_sec":$buildJson,"sf":"$sfDir"}"""
    // The driver keeps only the last ~2000 chars of stdout; with 90+ queries
    // the full-precision line outgrows that window and truncates into
    // unparseable JSON (the first three recorded runs parsed as null). Persist the
    // full line to a file, print it for humans, then print a compact line
    // LAST — slowest-N queries, 3-decimal values, bounded size — so the tail
    // always ends with one complete parseable object.
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (full + "\n").getBytes("UTF-8"))
    println(full)
    val slowest = results.collect { case (k, Right(v)) => (k, v) }
      .sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$slowest,"n_queries":${results.size},"queries_shown":${math.min(20, results.size)},"n_errors":$nErr$sva,"warm_sec":${r3(warmSec)},"build_sec":$buildJson,"full":"BENCH_FULL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
