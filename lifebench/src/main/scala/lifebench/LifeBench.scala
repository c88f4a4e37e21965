package lifebench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Featurizer
import graft.operators.{FlowParity, VectorSearch}
import graft.sources.{GraphIndex, IndexStore, PqStore}

/** The lifecycle benchmark: a seeded packet corpus is ingested from CSV,
  * featurized and built into the workload's stores; then one closed-loop
  * client (the next operation starts when the previous one returns)
  * absorbs new packets, tombstones the newest live ones and serves top-k
  * query batches, for a fixed number of seconds, checking every answer.
  *
  * Usage: `LifeBench --workload W --seed N --seconds S --trace 0|1
  * --work DIR --cores C`. `DIR` is a scratch directory of the run that
  * the caller empties and removes. The program prints `@metric`,
  * `@count` and `@fail` lines that `run.py` turns into the result object.
  */
object LifeBench {
  val K = 5
  val NProbe = 10
  val Dim: Int = Featurizer.DefaultDim
  /** Query ids sit above every packet frame number, so a query never
    * shares an id with a stored row.
    */
  val QidBase: Long = 1L << 40

  /** Size of the fixed query sample recall is measured on. */
  val RecallSample = 100

  /** One ranked answer row; similarity in millionths. */
  final case class Hit(qid: Long, vecId: Long, rank: Int, simMicro: Long)

  sealed trait Op { def kind: String }
  final case class Query(index: String, nq: Int) extends Op { def kind = s"query_$index" }
  final case class Absorb(rows: Int) extends Op { def kind = "absorb" }
  final case class Delete(rows: Int) extends Op { def kind = "delete" }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 2
  /** IVF recall@k floor against the ground truth (measured on HEAD:
    * 0.99-1.0 on both workloads).
    */
  val RecallFloor = 0.9

  /** A workload: corpus size, the cycle of operations the client repeats,
    * and after how many timed cycles the stores' size is taken (a fixed
    * count, reached well before the deadline, so that `store_bytes_ratio`
    * does not depend on how fast the host ran the loop).
    */
  final case class Workload(name: String, corpus: Int, cycle: Seq[Op], spaceCycles: Int) {
    def opKinds: Seq[String] = cycle.map(_.kind).distinct
  }

  val Workloads: Map[String, Workload] = Seq(
    // small calls: the fixed cost of each call (planning, jobs, file
    // listing, result collects) dominates and the kernels do little
    Workload("interactive", corpus = 1000,
      cycle = Seq(Absorb(100), Delete(50), Query("ivf", 5), Query("exact", 5)), spaceCycles = 4),
    // larger calls on a larger corpus: scans, kernels and shuffles take a
    // larger share of each call
    Workload("batch", corpus = 2000,
      cycle = Seq(Absorb(500), Delete(250), Query("ivf", 250), Query("exact", 250)), spaceCycles = 2),
  ).map(w => w.name -> w).toMap

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workloads.getOrElse(need("workload"),
        throw new IllegalArgumentException(s"unknown workload ${need("workload")}")),
      need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = new Run(args)
    try run.execute()
    finally run.stop()
  }

  def emit(kind: String, parts: Any*): Unit = println((s"@$kind" +: parts.map(_.toString)).mkString("\t"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: File): Long =
    Option(dir.listFiles()).fold(0L)(_.map(f => if (f.isDirectory) treeBytes(f) else f.length()).sum)

  def treeFiles(dir: File): Long =
    Option(dir.listFiles()).fold(0L)(_.map(f => if (f.isDirectory) treeFiles(f) else 1L).sum)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One benchmark run in this JVM. */
final class Run(args: LifeBench.Args) {
  import LifeBench._

  private val w = args.workload
  private val tracer = new Tracer(args.trace)
  private val dataDir = args.work.resolve("data").toString
  private val storesDir = args.work.resolve("stores").toFile
  private val ivfPath = new File(storesDir, "ivf").getPath
  private val corpusCsv = args.work.resolve("input/packets.csv")
  private val chunkDir = args.work.resolve("input/chunks")
  private val localDir = args.work.resolve("tmp/spark-local").toFile
  private val mem = new MemSampler(localDir)

  private var spark: SparkSession = _
  // per set-up state, reset by `setup`
  private var nextQueryFrame = 0L
  private var nextAbsorbFrame = 0L
  private var absorbedRows = 0L
  private val absorbFirsts = ArrayBuffer.empty[Long]
  private val tombstones = mutable.LinkedHashSet.empty[Long]
  private var lastIvfBuild = Option.empty[String]
  private var storeBytesRatio = Option.empty[Double]

  // outcome
  private var attempted = 0L
  private val failures = ArrayBuffer.empty[String]
  private val latencies = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def execute(): Unit = {
    emit("config", "workload", w.name, "seed", args.seed, "seconds", args.seconds,
      "trace", if (args.trace) 1 else 0, "corpus", w.corpus, "cores", args.cores)
    // the memo of lazily read tables skips paths under java.io.tmpdir;
    // a corpus there would measure a read path users never take
    val tmpRoot = new File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    require(!new File(dataDir).getCanonicalPath.startsWith(tmpRoot + File.separator),
      s"corpus dir $dataDir is under java.io.tmpdir $tmpRoot")
    PacketGen.writeCsv(corpusCsv, args.seed, PacketGen.Corpus, 1L, w.corpus)
    if (args.trace) mem.start()
    val setups = (1 to SetupReps).map(_ => setup())
    val t0 = System.nanoTime()
    measure()
    val t1 = System.nanoTime()
    val ivfRecall = check()
    metric("recall_at_5_min", ivfRecall, "ratio")
    emit("phases_s", "setups", setups.map(s => f"$s%.3f").mkString(","),
      "measure", f"${(t1 - t0) / 1e9}%.3f", "check", f"${(System.nanoTime() - t1) / 1e9}%.3f")
    metric("setup_s", median(setups), "s")
    for (q <- w.cycle.collect { case q: Query => q })
      metric(s"query_p50_s.${q.index}", median(latencies.getOrElse(q.kind, Nil).toSeq), "s")
    // one round of the cycle's batches, each at its index's median batch
    // time: the cycle's mix, and as steady as the medians
    val batches = w.cycle.collect { case q: Query => q }.distinct
    metric("queries_per_s", batches.map(_.nq).sum.toDouble /
      batches.map(q => median(latencies.getOrElse(q.kind, Nil).toSeq)).sum, "1/s")
    metric("absorb_p50_s", median(latencies.getOrElse("absorb", Nil).toSeq), "s")
    metric("delete_p50_s", median(latencies.getOrElse("delete", Nil).toSeq), "s")
    storeBytesRatio.foreach(metric("store_bytes_ratio", _, "ratio"))
    mem.stop()
    for ((k, ls) <- latencies) emit("samples", k, ls.size, ls.map(x => f"$x%.3f").mkString(","))
    if (args.trace) {
      for ((name, v, unit) <- tracer.layerMetrics(w.opKinds)) metric(name, v, unit)
      metric("JVM.peak_rss_mb", mem.peakBytes / 1e6, "MB")
      metric("Spark.scratch_peak_mb", mem.peakScratch / 1e6, "MB")
      // Tables.storeParquet calls and time, from the engine's own profiler
      for ((key, calls, secs) <- graft.Profiling.report() if key == "storeRead") {
        metric("Tables.storeParquet.calls", calls.toDouble, "count")
        metric("Tables.storeParquet.s", secs, "s")
      }
      Files.write(args.work.resolve("spans.jsonl"), tracer.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    emit("count", "attempted", attempted)
    emit("count", "failed", failures.size)
    failures.foreach(f => emit("fail", f))
  }

  def stop(): Unit = {
    mem.stop()
    if (spark != null) spark.stop()
  }

  private def metric(name: String, value: Double, unit: String): Unit =
    emit("metric", name, value, unit)

  private def fail(msg: String): Unit = failures += msg

  /** A timed closed-loop operation: its wall time, or a failure. */
  private def timed(kind: String)(f: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.op(kind)(f)
      latencies.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Exception => fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  // ---- set-up ---------------------------------------------------------

  private def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("lifebench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    spark
  }

  /** From session start until every store of the workload is built from
    * the raw CSV, plus one warm-up call of each operation type the loop
    * runs (users pay that JIT cost once per session). Returns its wall
    * seconds.
    */
  private def setup(): Double = {
    deleteTree(new File(dataDir))
    deleteTree(storesDir)
    deleteTree(chunkDir.toFile)
    val engineDefaults = Seq(IndexStore.defaultPath(dataDir), GraphIndex.defaultPath(dataDir),
      PqStore.defaultPath(dataDir))
    for (p <- new File(dataDir).getPath +: ivfPath +: engineDefaults)
      require(!new File(p).exists(), s"persisted store present before set-up: $p")
    nextQueryFrame = 1L
    nextAbsorbFrame = w.corpus + 1L
    absorbedRows = 0L
    absorbFirsts.clear()
    tombstones.clear()

    val t0 = System.nanoTime()
    newSession()
    tracer.span("setup") {
      tracer.span("ingest") {
        val raw = tracer.span("FlowParity.readFlowCsv")(FlowParity.readFlowCsv(spark, corpusCsv.toString))
        tracer.span("Featurizer.embedBatchedTyped") {
          featurize(raw).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
        }
      }
      tracer.span("IndexStore.ensure")(IndexStore.ensure(spark, dataDir, ivfPath))
      // a fresh build marker: set-up time is a build, not a marker check
      val build = IndexStore.buildId(ivfPath)
      require(build.nonEmpty && build != lastIvfBuild, "IndexStore.ensure did not stamp a fresh _build_id")
      lastIvfBuild = build
      tracer.span("warmup")(w.cycle.distinctBy(_.kind).foreach(runOp))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Packet rows → (vec_id, embedding, label): the reference's document
    * text (every column, nulls as empty strings, protocol twice as in
    * `pipeline.py:283,286`) embedded in batches of 32.
    */
  private def featurize(raw: DataFrame): DataFrame = {
    val text = concat_ws(" ", docColumns.map(c => coalesce(col(c), lit(""))): _*)
    val docs = raw.select(col("frame_number").cast("long").as("id"), text.as("text"))
    Featurizer.embedBatchedTyped(docs, "id", "text").toDF("vec_id", "embedding")
      .withColumn("label", (col("vec_id") % 8).cast("int"))
  }

  private val docColumns = FlowParity.flowSchema.fieldNames.toSeq :+ "protocol"

  /** [[featurize]]'s document text of one CSV row, for query packets the
    * client holds in memory.
    */
  private def docText(csvRow: String): String = {
    val field = FlowParity.flowSchema.fieldNames.zip(csvRow.split(",", -1)).toMap
    docColumns.map(field).mkString(" ")
  }

  /** Featurize texts on the cluster and hand the vectors back as a local
    * relation, the way a client embeds its batch before it searches.
    */
  private def embedLocal(rows: Seq[(Long, String)], idCol: String, vecCol: String): DataFrame =
    tracer.span("Featurizer.embedBatchedTyped") {
      val s = spark
      import s.implicits._
      val docs = rows.toDF("id", "text")
      val vecs = Featurizer.embedBatchedTyped(docs, "id", "text").collect()
      s.createDataFrame(vecs.toSeq.map(v => (v.id, v.vec))).toDF(idCol, vecCol)
    }

  // ---- the closed loop --------------------------------------------------

  /** One untimed cycle first: the set-up's single warm-up call per
    * operation type leaves the next calls of each type slower (JIT, Spark
    * codegen), and timing them would make the medians depend on how many
    * of them a run happened to include. Then the closed loop, for
    * `--seconds`; an operation started before the deadline completes. The
    * stores' size is taken after the workload's `spaceCycles` cycles.
    */
  private def measure(): Unit = {
    w.cycle.foreach(runOp)
    tracer.startMeasuring()
    graft.Profiling.reset()
    latencies.clear()
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val ops = Iterator.continually(w.cycle).flatten
    var done = 0
    while (System.nanoTime() < deadline) {
      runOp(ops.next())
      done += 1
      if (done == w.cycle.size * w.spaceCycles) snapshotSpace()
    }
    if (storeBytesRatio.isEmpty) snapshotSpace()
  }

  /** Bytes on disk under the stores over raw vector bytes of the live rows. */
  private def snapshotSpace(): Unit = {
    val liveRows = w.corpus + absorbedRows - tombstones.size
    storeBytesRatio = Some(treeBytes(storesDir).toDouble / (liveRows * Dim * 4L))
  }

  private def runOp(op: Op): Unit = op match {
    case Query(index, nq) =>
      val texts = PacketGen.rows(args.seed, PacketGen.Queries, nextQueryFrame, nq)
        .zipWithIndex.map { case (t, i) => (QidBase + nextQueryFrame + i, docText(t)) }
      nextQueryFrame += nq
      var hits: Seq[Hit] = Nil
      timed(op.kind) { hits = search(index, texts) }
      checkHits(op.kind, texts.map(_._1), hits)
    case Absorb(n) =>
      val first = nextAbsorbFrame
      val chunk = chunkDir.resolve(s"absorb_$first.csv")
      PacketGen.writeCsv(chunk, args.seed, PacketGen.Absorb, first, n)
      nextAbsorbFrame += n
      timed(op.kind)(absorb(chunk))
      absorbedRows += n
      absorbFirsts += first
    case Delete(n) =>
      timed(op.kind)(delete(n))
  }

  /** Featurize the query texts, then top-k search `index`; returns
    * [[Hit]]s.
    */
  private def search(index: String, texts: Seq[(Long, String)]): Seq[Hit] = {
    val q = embedLocal(texts, "qid", "qvec")
    def served(layer: String)(f: => Array[Row]): Array[Row] = tracer.span(layer) {
      val r = f
      tracer.note("results", r.length)
      r
    }
    val rows = index match {
      case "ivf" =>
        served("IndexStore.searchPruned") {
          val pred = if (tombstones.isEmpty) None else Some(!col("vec_id").isin(tombstones.toSeq: _*))
          IndexStore.searchPruned(spark, ivfPath, q, K, NProbe, pred).collect()
        }
      case "exact" =>
        // not KnnJoinApi.knnJoin: on a base of more than one non-empty
        // partition it keeps the k worst of the partition winners
        served("VectorSearch.knnDeclarative")(VectorSearch.knnDeclarative(q, liveBase, K).collect())
    }
    rows.toSeq.map(r => Hit(r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
  }

  /** Every live row of the corpus: the IVF store's rows minus tombstones. */
  private def liveBase: DataFrame = {
    val rows = IndexStore.read(spark, ivfPath)._1.select(col("vec_id"), col("embedding"))
    if (tombstones.isEmpty) rows else rows.filter(!col("vec_id").isin(tombstones.toSeq: _*))
  }

  private def absorb(chunk: Path): Unit = {
    val raw = tracer.span("FlowParity.readFlowCsv")(FlowParity.readFlowCsv(spark, chunk.toString))
    val vecs = tracer.span("Featurizer.embedBatchedTyped") {
      val df = featurize(raw)
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    tracer.span("IndexStore.absorb") {
      val before = treeFiles(new File(ivfPath))
      IndexStore.absorb(spark, ivfPath, vecs)
      tracer.note("files_written", (treeFiles(new File(ivfPath)) - before).toDouble)
    }
  }

  /** Tombstone the `n` highest live ids (last-N, `stream1.py:297-315`). */
  private def delete(n: Int): Unit = {
    val ids = tracer.span("IndexStore.read") {
      val rows = IndexStore.read(spark, ivfPath)._1.select(col("vec_id"))
      val live = if (tombstones.isEmpty) rows else rows.filter(!col("vec_id").isin(tombstones.toSeq: _*))
      live.orderBy(col("vec_id").desc).limit(n).collect().map(_.getLong(0))
    }
    tombstones ++= ids
  }

  // ---- answer checks ----------------------------------------------------

  /** k rows per query with ranks 1..k, no self id, no tombstoned id. A
    * failed check is a failed operation.
    */
  private def checkHits(kind: String, qids: Seq[Long], hits: Seq[Hit]): Unit = {
    if (hits.isEmpty && failures.lastOption.exists(_.startsWith(kind))) return
    val byQ = hits.groupBy(_.qid)
    val bad = qids.filter { q =>
      val hs = byQ.getOrElse(q, Nil)
      hs.map(_.rank).sorted != (1 to K) || hs.exists(h => h.vecId == q || tombstones.contains(h.vecId))
    }
    if (bad.nonEmpty || byQ.size != qids.size) {
      attempted += 1
      fail(s"$kind check: ${bad.size} of ${qids.size} queries without k ranked live non-self hits")
    }
  }

  /** End-of-run checks, outside the timed window, each counted as an
    * operation:
    *  - the first row of every absorb batch, queried with its own text, is
    *    at rank 1 from IVF and from exact search;
    *  - the IVF store holds the corpus plus every absorbed row;
    *  - on a fixed query sample, exact search returns the ground truth's
    *    similarities, and IVF reaches the recall@k floor. The ground truth
    *    is scored here, in this JVM, outside the engine: every live row
    *    against every query vector, dot products accumulated left to right
    *    in double as the engine's kernel does, ranked by (sim desc,
    *    vec_id).
    * Returns the IVF recall.
    */
  private def check(): Double = {
    def expect(name: String)(ok: => Boolean, detail: => String): Unit = {
      attempted += 1
      val good = try ok catch { case e: Exception => fail(s"$name: $e"); return }
      if (!good) fail(s"$name: $detail")
    }
    def byQuery(hs: Seq[Hit]) = hs.groupBy(_.qid).withDefaultValue(Nil)
    val probes = absorbFirsts.filterNot(tombstones.contains).toSeq
      .map(f => (QidBase + (1L << 39) + f) -> f)
    val sample = PacketGen.rows(args.seed, PacketGen.RecallQueries, 1L, RecallSample)
      .zipWithIndex.map { case (t, i) => (QidBase + (1L << 38) + i, docText(t)) }
    val queries = probes.map { case (q, f) => (q, docText(PacketGen.row(args.seed, PacketGen.Absorb, f))) } ++ sample
    lazy val ivf = byQuery(search("ivf", queries))
    lazy val exact = byQuery(search("exact", queries))

    for ((index, hits) <- Seq("ivf" -> (() => ivf), "exact" -> (() => exact))) {
      lazy val missed = probes.count { case (q, f) => !hits()(q).exists(h => h.rank == 1 && h.vecId == f) }
      expect(s"absorbed_rank1_$index")(missed == 0, s"$missed of ${probes.size} absorbed rows not at rank 1")
    }
    val expected = w.corpus + absorbedRows
    lazy val ivfRows = IndexStore.read(spark, ivfPath)._1.count()
    expect("ivf_row_count")(ivfRows == expected, s"$ivfRows rows, expected $expected")

    val truth = byQuery(groundTruth(embedLocal(sample, "qid", "qvec")))
    lazy val wrong = sample.count { case (q, _) =>
      exact(q).size != truth(q).size || exact(q).map(_.simMicro).sorted.zip(truth(q).map(_.simMicro).sorted)
        .exists { case (a, b) => math.abs(a - b) > 1 }
    }
    expect("exact_matches_truth")(wrong == 0, s"$wrong of ${sample.size} queries differ from the ground truth top-$K")
    lazy val recall = sample.map { case (q, _) =>
      (truth(q).map(_.vecId).toSet & ivf(q).map(_.vecId).toSet).size }.sum.toDouble / truth.values.map(_.size).sum
    expect("recall_ivf")(recall >= RecallFloor, f"recall@$K $recall%.3f below floor $RecallFloor")
    emit("recall", "ivf", recall)
    recall
  }

  /** Exact top-k of every query over the live rows, computed in this JVM
    * from the collected vectors.
    */
  private def groundTruth(queries: DataFrame): Seq[Hit] = {
    def vectors(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val base = vectors(liveBase)
    vectors(queries).toSeq.flatMap { case (qid, qv) =>
      base.iterator.filter(_._1 != qid).map { case (id, e) =>
        require(e.length == qv.length, s"row $id has ${e.length} dims, query $qid ${qv.length}")
        var s = 0.0
        var i = 0
        while (i < qv.length) { s += qv(i).toDouble * e(i).toDouble; i += 1 }
        (s, id)
      }.toSeq.sortBy { case (s, id) => (-s, id) }.take(K).zipWithIndex.map { case ((s, id), i) =>
        Hit(qid, id, i + 1, math.floor(s * 1e6).toLong)
      }
    }
  }
}

/** Peak of this JVM's resident set plus the bytes in Spark's local
  * directories (shuffle files, spills). The resident set is read every
  * 10 ms; the local directories, a tree walk, every 100 ms.
  */
final class MemSampler(localDir: File) {
  @volatile private var running = false
  @volatile var peakBytes = 0L
  @volatile var peakScratch = 0L
  private var scratch = 0L
  private var ticks = 0L
  private val pageSize = 4096L
  private val thread = new Thread(() => {
    while (running) {
      sample()
      Thread.sleep(10)
    }
  }, "lifebench-mem")
  thread.setDaemon(true)

  private def sample(): Unit = {
    if (ticks % 10 == 0) scratch = LifeBench.treeBytes(localDir)
    ticks += 1
    val statm = new String(Files.readAllBytes(Paths.get("/proc/self/statm"))).trim.split(" ")
    peakBytes = math.max(peakBytes, statm(1).toLong * pageSize + scratch)
    peakScratch = math.max(peakScratch, scratch)
  }

  def start(): Unit = { running = true; thread.start() }

  def stop(): Unit = if (running) {
    running = false
    thread.join()
    sample()
  }
}
