package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing (LLM-pipeline north star): media as opaque
  * BINARY columns + typed metadata, with decode / feature-extraction as
  * batched partition-local functions.
  *
  * Two decoders fill the same bytes→meta slot:
  *  - [[imageDecode]] — a REAL codec (`javax.imageio`, JDK-only: PNG/JPEG
  *    decode, resize via Graphics2D), exercised by [[realDecodeQuery]]
  *    over deterministically generated PNG fixtures whose dimensions the
  *    DuckDB oracle replays arithmetically;
  *  - [[fakeDecode]] — a deterministic stub for the text-bytes stand-in
  *    corpus (documents.text cast to binary is not a valid image), kept so
  *    the plumbing queries run on the driver testdata unchanged.
  */
object Multimodal {

  /** Typed media metadata, the struct a real decoder would emit. */
  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** STUB decoder: deterministic fake metadata derived from the bytes.
    * Replace with a real codec (e.g. javax.imageio) in production — the
    * signature (bytes → meta) is the real contract.
    */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, String) = {
    val n = if (bytes == null) 0 else bytes.length
    val h = if (n == 0) 0 else java.util.Arrays.hashCode(bytes)
    (256 + math.floorMod(h, 1024), 256 + math.floorMod(h >> 10, 1024),
      if (n % 2 == 0) "png" else "jpeg")
  }

  /** In-memory codec I/O: the inputs are byte arrays already, so ImageIO's
    * default disk-backed stream cache would only spill a temp file per
    * decode/encode (≈5 per row on the [[realDecodeQuery]] hot path).
    * Evaluated once per JVM (lazy val forced by each codec entry point).
    */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** REAL image decode (`javax.imageio`, part of the JDK — no external
    * dependency): bytes → (width, height, format). The format name comes
    * from the matched ImageReader ("png"/"JPEG"/…), lowercased. Unreadable,
    * null, or CORRUPT bytes decode to (0, 0, "unknown") — a pipeline over
    * crawled media must treat every decode failure as data, not as an
    * exception, and javax.imageio readers are known to throw unchecked
    * exceptions on crafted headers, so the net catches NonFatal, not just
    * IOException.
    */
  def imageDecode(bytes: Array[Byte]): (Int, Int, String) = {
    imageIoNoDiskCache
    if (bytes == null || bytes.length == 0) return (0, 0, "unknown")
    try {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(in)
        if (!readers.hasNext) return (0, 0, "unknown")
        val r = readers.next()
        try {
          r.setInput(in)
          (r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase)
        } finally r.dispose()
      } finally if (in != null) in.close()
    } catch { case scala.util.control.NonFatal(_) => (0, 0, "unknown") }
  }

  /** REAL resize: decode, Graphics2D bilinear scale into a w×h canvas,
    * re-encode PNG. Unreadable input yields an empty array.
    */
  def imageResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    imageIoNoDiskCache
    val img = try {
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        if (bytes == null) Array.emptyByteArray else bytes))
    } catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return Array.emptyByteArray
    val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Deterministic PNG fixture: a w×h image whose pixels are a pure
    * function of (seed, x, y), PNG-encoded. Used by [[syntheticImages]]
    * and the specs — the oracle never checks the bytes, only the
    * round-tripped dimensions, so encoder-version drift can't break it.
    *
    * The surface is a BILINEAR interpolation of a seed-random 5×5
    * control grid (integer arithmetic throughout): smooth low-frequency
    * content, like a real photo's structure at thumbnail scale — which
    * is what makes the perceptual-hash fixtures honest. Per-pixel noise
    * would be the pathological case for ANY perceptual hash (block
    * means of noise don't survive resampling-grid shifts), and distinct
    * seeds still produce distinct surfaces (distinct control values ⇒
    * distinct local slopes ⇒ distinct dHash sign patterns).
    */
  def encodePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    imageIoNoDiskCache
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def mix(z0: Long): Long = { // splitmix64 finalizer: real avalanche,
      var z = z0 + 0x9E3779B97F4A7C15L // unlike a linear form whose high
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L // bits barely move for
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL // small (seed, i, j)
      z ^ (z >>> 31)
    }
    def ctrl(i: Int, j: Int, ch: Int): Long =
      mix(seed * 75L + (i * 5 + j) * 3L + ch) & 0xffL
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = if (w > 1) x * 4000 / (w - 1) else 0
        val gy = if (h > 1) y * 4000 / (h - 1) else 0
        val i = math.min(3, gx / 1000); val fx = (gx - i * 1000).toLong
        val j = math.min(3, gy / 1000); val fy = (gy - j * 1000).toLong
        def lerp2(ch: Int): Int = {
          val top = ctrl(i, j, ch) * (1000 - fx) + ctrl(i + 1, j, ch) * fx
          val bot = ctrl(i, j + 1, ch) * (1000 - fx) + ctrl(i + 1, j + 1, ch) * fx
          ((top * (1000 - fy) + bot * fy) / 1000000L).toInt
        }
        img.setRGB(x, y, (lerp2(0) << 16) | (lerp2(1) << 8) | lerp2(2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Documents with a BINARY media column (UTF-8 bytes of the text stand in
    * for the opaque blob) — the ingest shape for multimodal tables.
    */
  def withBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("media", col("text").cast("binary"))

  /** Real-image twin of [[withBinary]]: one generated PNG per document,
    * width = 8 + doc_id % 16, height = 8 + doc_id % 7 — dimension formulas
    * the oracle replays in SQL. Partition-local generation (per-row encode;
    * the codec has no batch mode to exploit).
    *
    * The ids are REPARTITIONED to the session's parallelism first: codec
    * work is CPU-bound, and inheriting the source's file-split layout
    * serializes it onto however many splits the (tiny) id table happens
    * to occupy — measured: the sf1 grays build ran ONE task off a
    * single-split documents.parquet, 1.4 cores on a 32-core session. An
    * id-only exchange costs 8 bytes/row and unlocks every core; at the
    * 100 TB design point decode parallelism must track CLUSTER size, not
    * upstream file count.
    */
  def syntheticImages(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val outSchema = ids.schema.add(StructField("media", BinaryType, nullable = false))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, encodePng(8 + (id % 16).toInt, 8 + (id % 7).toInt, id))
    })
  }

  /** Batched partition-local decode: mapPartitions in groups of 32 (the
    * batch shape a GPU/codec UDF needs), emitting the typed meta struct.
    * `decoder` fills the bytes→meta slot — [[imageDecode]] for real media,
    * [[fakeDecode]] (the default) for the text-bytes stand-in corpus.
    */
  def decodeMeta(df: DataFrame, binCol: String, batchSize: Int = 32,
                 decoder: Array[Byte] => (Int, Int, String) = fakeDecode): DataFrame = {
    val outSchema = df.schema
      .add(StructField("meta", metaSchema, nullable = false))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val metas = batch.map(r => decoder(r.getAs[Array[Byte]](idx)))
        batch.iterator.zip(metas.iterator).map { case (r, (w, h, f)) =>
          Row.fromSeq(r.toSeq :+ Row(w, h, f))
        }
      }
    }
  }

  /** STUB resize: deterministic byte transform standing in for an image
    * resize (real codec drops into the same bytes→bytes slot). Keeps the
    * contract visible: output length scales with the target box.
    */
  def fakeResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val n = math.max(1, math.min(if (bytes == null) 1 else bytes.length, w * h / 64))
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = bytes(i % bytes.length); i += 1 }
    out
  }

  /** Batched partition-local resize (bytes→bytes), same batching shape as
    * [[decodeMeta]].
    */
  def resize(df: DataFrame, binCol: String, w: Int, h: Int,
             batchSize: Int = 32): DataFrame = {
    val outSchema = df.schema.add(StructField("resized", BinaryType, nullable = false))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          Row.fromSeq(r.toSeq :+ fakeResize(r.getAs[Array[Byte]](idx), w, h))
        }
      }
    }
  }

  /** STUB frame sampling: a "video" binary column yields every nth chunk as
    * a frame (real demuxer drops into the same bytes→frames slot). The
    * Spark-side shape — one input row explodes to frameCount typed rows —
    * is the real contract.
    */
  def frameSample(df: DataFrame, binCol: String, frameBytes: Int = 64,
                  everyNth: Int = 4): DataFrame =
    df.withColumn("frame",
        explode(expr(
          s"transform(sequence(0, greatest(int(octet_length($binCol) / ($frameBytes * $everyNth)) - 1, 0)), " +
            s"i -> struct(i AS frame_no, substring($binCol, i * $frameBytes * $everyNth + 1, $frameBytes) AS frame_bytes))")))
      .select(col("doc_id"), col("frame.frame_no").as("frame_no"),
        octet_length(col("frame.frame_bytes")).as("frame_len"))

  /** Named query: REAL codec round-trip, oracle-checked. Generate a PNG
    * per document with formula-derived dimensions, decode it with
    * `javax.imageio` ([[imageDecode]] through the [[decodeMeta]] slot),
    * then resize to 12×9 ([[imageResize]]) and decode AGAIN — the output
    * (orig dims, format, resized dims) matches the oracle's arithmetic
    * replay only if a real encoder+decoder round-tripped every image.
    */
  def realDecodeQuery(spark: SparkSession, dir: String): DataFrame = {
    val decoded = decodeMeta(syntheticImages(spark, dir), "media", decoder = imageDecode)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("rs_width", LongType, nullable = false),
      StructField("rs_height", LongType, nullable = false)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val mediaIdx = decoded.schema.fieldIndex("media")
    val metaIdx = decoded.schema.fieldIndex("meta")
    decoded.mapPartitions { it =>
      it.map { r =>
        val meta = r.getStruct(metaIdx)
        val (rw, rh, _) = imageDecode(imageResize(r.getAs[Array[Byte]](mediaIdx), 12, 9))
        Row(r.getLong(0), meta.getInt(0).toLong, meta.getInt(1).toLong,
          meta.getString(2), rw.toLong, rh.toLong)
      }
    }.orderBy(col("doc_id"))
  }

  /** 9×8 luma downsample of a decoded image by INTEGER block averaging —
    * the perceptual-hash front half. Deliberately not Graphics2D resize:
    * interpolation details are implementation-defined, but an integer
    * block mean of decoded RGB is bit-deterministic on every JVM, which
    * is what lets the exported grays replay in the oracle. Luma is the
    * integer BT.601 form (299r + 587g + 114b) DIV 1000.
    */
  private[graft] def grays9x8(bytes: Array[Byte]): Array[Int] = {
    imageIoNoDiskCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](72)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val x0 = gx * w / 9; val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
        val y0 = gy * h / 8; val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)) / 1000L
            n += 1; x += 1
          }
          y += 1
        }
        out(gy * 9 + gx) = (sum / n).toInt
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** The dHash BIT RULE as a SQL expression over a 72-element gray array:
    * bit (y,x) set iff gray(x,y) > gray(x+1,y), packed into two positive
    * 32-bit halves (cross-engine bit_count on negative BIGINTs is
    * avoidable risk). SHARED by the engine query and the oracle — the
    * hash construction itself is replayed, not trusted — with only the
    * subscript BASE differing (Spark `[]` is 0-based, DuckDB 1-based).
    */
  private[graft] def dhashSql(col: String, half: Int, base: Int): String =
    (0 until 32).map { i =>
      val bit = half * 32 + i
      val (y, x) = (bit / 8, bit % 8)
      s"(CASE WHEN $col[${y * 9 + x + base}] > $col[${y * 9 + x + base + 1}] THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def graysPath(dir: String): String =
    graft.sources.Artifact.storeDir("phash_store", dir) + "_v6"

  /** Deterministic nearest-neighbor 2× upscale — the "re-encoded copy"
    * fixture generator: integer pixel replication, no interpolation, so
    * the variant's grays are as bit-deterministic as the original's.
    */
  private def upscale2x(bytes: Array[Byte]): Array[Byte] = {
    imageIoNoDiskCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val out = new java.awt.image.BufferedImage(img.getWidth * 2, img.getHeight * 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < out.getHeight) {
      var x = 0
      while (x < out.getWidth) {
        out.setRGB(x, y, img.getRGB(x / 2, y / 2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Offset marking the rescaled-variant rows in the grays store. */
  val VariantOffset: Long = 1000000L

  /** Build the exported grays artifact once per source generation (the
    * IndexStore `_src_fp` contract): decode + block-average is the only
    * non-SQL step, and its output IS the artifact both engines hash.
    * Every 10th document also contributes a 2×-upscaled VARIANT row
    * (doc_id + [[VariantOffset]]) — the rescaled-copy population the
    * pair query ([[phashPairsQuery]]) is meant to catch, generated here
    * so the crawl fixture contains the duplicates a real crawl would.
    */
  def ensureGrays(spark: SparkSession, dir: String): String = {
    val path = graysPath(dir)
    graft.sources.Artifact.ensureSource(path, dir, Seq("grays")) {
      val imgs = syntheticImages(spark, dir)
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("grays", ArrayType(IntegerType, containsNull = false), nullable = false)))
      implicit val enc: Encoder[Row] = Encoders.row(outSchema)
      val mediaIdx = imgs.schema.fieldIndex("media")
      imgs.mapPartitions(_.flatMap { r =>
        val id = r.getLong(0)
        val media = r.getAs[Array[Byte]](mediaIdx)
        val base = Row(id, grays9x8(media).toSeq)
        if (id % 10 == 0)
          Seq(base, Row(id + VariantOffset, grays9x8(upscale2x(media)).toSeq))
        else Seq(base)
      }).write.mode("overwrite").parquet(s"$path/grays")
    }
    path
  }

  /** Candidate band widths for the 64-bit (lo32 ++ hi32) hash — every
    * divisor of 64 that tiles the two 32-bit halves without straddling.
    */
  private[graft] val HammingWidths: Seq[Int] = Seq(8, 16, 32)

  /** Occupancy above which a (band, value) bucket of the Hamming pair join
    * is salted (per-bucket factor ⌈c/cap⌉) so no single task's verify
    * volume exceeds ~cap·c·P candidate rows. Calibrated from the measured
    * sf1 decade: the hottest 16-bit bucket holds 1,121 hashes (≈21M pairs
    * unsalted in one task — the observed spill); at 128 it splits 9 ways
    * (≈2.4M pairs/task) while a spread corpus (sf0.1 max 120) pays zero.
    */
  private[graft] val HotBucketCap: Long = 128L

  /** Driver bound on the hot-bucket SALT MAP: only the top-K hottest
    * over-cap buckets are collected and broadcast as salt factors. The
    * over-cap census is ≤ n·m/cap by pigeonhole — on a degenerate corpus
    * (near-constant hashes) that is O(n), which must never ride to the
    * driver. Buckets past the cap stay unsalted: the pair set is
    * provably unchanged (salting only rebalances tasks), and the tail is
    * the least-imbalanced slice of the hot set by construction. 4096
    * entries × ~20 B ≈ 80 KB broadcast — bounded at any corpus size.
    */
  private[graft] val MaxSaltedBuckets: Int = 4096

  /** Probe depth the completeness law τ ≤ m·(p+1) − 1 requires of an
    * m-band layout: the smallest p with m·(p+1) > τ (pigeonhole: some
    * band of a within-τ pair differs in ≤ p bits).
    */
  private[graft] def probeBitsFor(width: Int, tau: Int): Int = {
    val m = 64 / width
    math.max(0, (tau + 1 + m - 1) / m - 1)
  }

  /** Probes per band value under p-bit expansion: Σ_{i≤p} C(width, i). */
  private[graft] def probesPerBand(width: Int, p: Int): Long = {
    def choose(nn: Int, kk: Int): Long =
      (1 to kk).foldLeft(1L)((a, i) => a * (nn - i + 1) / i)
    (0 to p).map(choose(width, _)).sum
  }

  /** Pick the band layout from MEASURED corpus statistics — the
    * `knn_autotune` idiom applied to Hamming search. Band width is the
    * capacity dial of a multi-index (the nlist of Hamming search): a
    * fixed 8×8-bit layout's 2,048-bucket space candidates grow as
    * n²/2048 no matter how well-spread the hashes are, while wider bands
    * pay more probe rows per hash (Σ C(w,i) XOR flips). Estimated total
    * work for width w with m = 64/w bands and P probes/band:
    *
    *   cost(w) = n·m·P  (probe rows)  +  P·collMass(w)  (candidates),
    *
    * where collMass(w) = Σ_{band,value} count² is the measured home-bucket
    * collision mass (each probe bucket's occupancy estimated by the home
    * bucket's — exact for P=1, a same-order proxy under expansion). All
    * integer arithmetic over measured counts, so the DuckDB oracle replays
    * the decision bit for bit; ties break to the narrower band. Widths
    * whose probe fan-out is absurd for the requested τ (> 2²⁰ probes) are
    * infeasible, never chosen.
    */
  /** Widths whose probe fan-out at `tau` stays sane (≤ 2²⁰ probes/band) —
    * the candidate set BOTH the engine's argmin and the oracle's pick CTE
    * draw from (the oracle emits only these widths into its CASE lists, so
    * the two argmins stay structurally identical at any tau).
    */
  private[graft] def feasibleWidths(tau: Int): Seq[Int] =
    HammingWidths.filter(w => probesPerBand(w, probeBitsFor(w, tau)) <= (1L << 20))

  private[graft] def chooseHammingLayout(n: Long, collMass: Map[Int, Long],
                                         tau: Int): (Int, Int) = {
    val costs = feasibleWidths(tau).map { w =>
      val p = probeBitsFor(w, tau)
      val pr = probesPerBand(w, p)
      (w, p,
        BigInt(n) * (64 / w) * pr + BigInt(pr) * BigInt(collMass.getOrElse(w, 0L)))
    }
    require(costs.nonEmpty, s"no feasible band layout for tau=$tau")
    val (w, p, _) = costs.minBy { case (ww, _, c) => (c, BigInt(ww)) }
    (w, p)
  }

  /** Band `i` of width `w` over the (lo32 ++ hi32) hash as a SQL
    * fragment — global bit offset w·i, drawn from `phash_lo` below bit 32
    * and `phash_hi` above (widths tile the halves, never straddle).
    */
  private def bandValSql(w: Int, i: Int): String = {
    val off = w * i
    val mask = (1L << w) - 1
    if (off < 32) s"((phash_lo >> $off) & $mask)"
    else s"((phash_hi >> ${off - 32}) & $mask)"
  }

  /** One aggregate pass over the hash frame: corpus size n and, for every
    * candidate width, the home-bucket collision mass Σ count² — the two
    * measured inputs of [[chooseHammingLayout]]. 14 tiny (w, band, value)
    * rows per hash, map-combined; the report is ≤ |widths| rows.
    */
  private[graft] def hammingLayoutStats(h: DataFrame): (Long, Map[Int, Long]) = {
    val bandCols = HammingWidths.flatMap { w =>
      (0 until 64 / w).map(i =>
        struct(lit(w).as("w"), lit(i).as("band"), expr(bandValSql(w, i)).as("bv")))
    }
    val rows = h.select(explode(array(bandCols: _*)).as("b"))
      .groupBy(col("b.w").as("w"), col("b.band").as("band"), col("b.bv").as("bv"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("w"))
      .agg(sum(expr("c * c")).as("coll"), sum(col("c")).as("total"))
      .collect()
    val coll = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = rows.headOption.map(r => r.getLong(2) / (64 / r.getInt(0))).getOrElse(0L)
    (n, coll)
  }

  /** Image NEAR-DUP PAIRS over the perceptual hashes — multi-index
    * Hamming search (Norouzi et al.'s MIH shape) with an AUTO-SCALED band
    * layout: [[chooseHammingLayout]] derives (band width, probe depth)
    * from the measured corpus (size + per-width collision mass) under the
    * completeness law τ ≤ m·(p+1) − 1, so candidate volume tracks the
    * true-pair volume at any n instead of riding a hand constant — tiny
    * corpora get cheap 8-bit bands with zero expansion, big corpora get
    * 16/32-bit bands whose larger bucket spaces keep collisions near the
    * within-τ set (measured 376M candidates for 57k true pairs when the
    * old fixed 8×8 layout met the synthetic sf1 decade; the 4×16 probed
    * layout cut that ~12× at identical output). Any two hashes within τ
    * have SOME band differing in ≤ p bits (pigeonhole), and the probe
    * side explodes each band value into its ≤p-bit XOR flips, so the
    * (band, value) equi-join is COMPLETE for the τ cut at EVERY derived
    * layout (spec re-proves exactness against brute force); exact Hamming
    * verifies. The chosen layout surfaces as audit columns the oracle
    * replays from the same measured statistics. The residual
    * super-linear term at the sf1 sweep is the DATA's: the blow-up's
    * replica images are genuine near-dups, so the true pair set itself
    * grows at slope ~1.8 over the decade and any complete algorithm
    * pays it.
    */
  def phashPairsQuery(spark: SparkSession, dir: String, tau: Int = 7): DataFrame =
    phashPairs(spark, dir, tau).orderBy(col("id_a"), col("id_b"))

  /** [[phashPairsQuery]] without the presentation sort — the composition
    * entry point. A consumer that stacks its own operators on the sorted
    * form can silently pay the pair join TWICE: the global sort's
    * RangePartitioning runs a range-bounds SAMPLING job over its child,
    * and when the consumer's plan blocks sort elimination (a Generate
    * between the sort and the next aggregate, as in [[crossModalQuery]]),
    * the sampling pass re-executes the whole join (measured 2× at the sf1
    * decade). Compose from here; sort only at the query surface.
    */
  /** Per-(session, dir CONTENT) memo of the prepared (repartitioned +
    * checkpointed) hash frame and its measured layout statistics: the
    * frame feeds two registered queries (`media_phash_pairs` and
    * `dedup_crossmodal`'s image leg) that would otherwise each re-read
    * the grays store, re-run the dhash expressions, and re-measure the
    * same statistics per invocation. Same lifecycle discipline as
    * Dedup's sketch memo: weak session ref (never pins a stopped
    * session), soft frame ref (GC reclaims under pressure → recompute),
    * content fingerprint in the key (regenerated testdata misses).
    */
  private val hashMemo = scala.collection.concurrent.TrieMap.empty[
    (Int, String, Long),
    (java.lang.ref.WeakReference[SparkSession],
      java.lang.ref.SoftReference[DataFrame], Long, Map[Int, Long])]

  private def memoHashFrame(spark: SparkSession, dir: String)
      : (DataFrame, Long, Map[Int, Long]) = {
    hashMemo.filterInPlace { case (_, (sref, dref, _, _)) =>
      val s = sref.get
      s != null && !s.sparkContext.isStopped && dref.get != null
    }
    val key = (System.identityHashCode(spark), dir, Tables.dirFingerprint(dir))
    // Bind the soft referent ONCE: a GC clearing it between a `dref.get !=
    // null` guard and a second `dref.get` in the body (most likely exactly
    // under the memory pressure soft refs exist for) would return null and
    // surface later as an opaque NPE.
    val hit = hashMemo.get(key).flatMap { case (sref, dref, n, coll) =>
      val f = dref.get
      if ((sref.get eq spark) && f != null) Some((f, n, coll)) else None
    }
    hit match {
      case Some(found) => found
      case None =>
        val graysPath = ensureGrays(spark, dir)
        val h = prepareHashFrame(graft.Tables.storeParquet(spark, s"$graysPath/grays")
          .select(col("doc_id"),
            expr(dhashSql("grays", 0, base = 0)).as("phash_lo"),
            expr(dhashSql("grays", 1, base = 0)).as("phash_hi")))
        val (n, coll) = hammingLayoutStats(h)
        hashMemo.update(key, (new java.lang.ref.WeakReference(spark),
          new java.lang.ref.SoftReference(h), n, coll))
        (h, n, coll)
    }
  }

  private[graft] def phashPairs(spark: SparkSession, dir: String, tau: Int = 7): DataFrame = {
    require(tau >= 0 && tau < 64, s"tau must be a 64-bit Hamming radius, got $tau")
    // Unsorted hash frame (not phashQuery — its presentation ORDER BY
    // would cost a RangePartitioning sampling pass under the composition,
    // the exact double-execution trap the crossmodal docstring documents).
    val (h, n, collMass) = memoHashFrame(spark, dir)
    val (w, p) = chooseHammingLayout(n, collMass, tau)
    val m = 64 / w
    val (pairs, nHot, _) = hammingPairsPrepared(h, w, p, tau, HotBucketCap)
    pairs
      .withColumn("band_w", lit(w.toLong))
      .withColumn("n_bands", lit(m.toLong))
      .withColumn("probe_bits", lit(p.toLong))
      .withColumn("n_hashes", lit(n))
      .withColumn("n_hot_buckets", lit(nHot))
  }

  /** The multi-index Hamming pair core at a FIXED layout: band both sides,
    * probe-side ≤p-bit XOR expansion, hot-bucket-salted (band, value)
    * equi-join, exact Hamming verify. Returns the within-τ pair frame and
    * the number of salted buckets (the audit scalar). Factored out of
    * [[phashPairs]] so the salting's exactness is spec-testable on a
    * crafted hash frame whose occupancy actually engages it.
    */
  private[graft] def hammingPairs(h0: DataFrame, w: Int, p: Int, tau: Int,
                                  hotCap: Long = HotBucketCap): (DataFrame, Long) = {
    val (pairs, nHot, _) = hammingPairsPrepared(prepareHashFrame(h0), w, p, tau, hotCap)
    (pairs, nHot)
  }

  /** Spread the hash frame over the full task budget BEFORE the probe
    * explosion: the frame is tiny on disk (16 B/hash — one scan task at
    * any tested scale), but each row explodes into m·P probe rows and
    * each probe row fans out through the candidate join, so leaving the
    * explosion in the scan's partitioning serializes the whole candidate
    * stream through ONE task — the measured sf1 failure mode (a single
    * task expanded ~1 MB of hashes into ~9 GB of aggregation spill).
    * The repartition costs one hash-frame-sized exchange (16 B/row),
    * materialized ONCE by an eager localCheckpoint: the frame feeds five
    * subtrees (home bands, probe bands, the hot-bucket census, both
    * verify sides) across two actions, and without the checkpoint each
    * action re-reads the source and re-evaluates the hash expressions
    * per subtree.
    */
  private def prepareHashFrame(h0: DataFrame): DataFrame = {
    val np = h0.sparkSession.sessionState.conf.numShufflePartitions
    h0.repartition(np).localCheckpoint()
  }

  /** [[hammingPairs]] with the salted-bucket census exposed — the spec
    * handle for the [[MaxSaltedBuckets]] driver bound. Returns
    * `(pairs, totalOverCap, salted)`: `totalOverCap` is the surfaced
    * audit count (every bucket whose occupancy exceeds `hotCap`, the
    * number the oracle recomputes), `salted ≤ maxSalted` is how many of
    * those actually received a salt factor.
    */
  private[graft] def hammingPairsDetailed(h0: DataFrame, w: Int, p: Int, tau: Int,
                                          hotCap: Long = HotBucketCap,
                                          maxSalted: Int = MaxSaltedBuckets)
      : (DataFrame, Long, Long) =
    hammingPairsPrepared(prepareHashFrame(h0), w, p, tau, hotCap, maxSalted)

  /** [[hammingPairs]] over an already [[prepareHashFrame]]'d frame. */
  private def hammingPairsPrepared(h: DataFrame, w: Int, p: Int, tau: Int,
                                   hotCap: Long,
                                   maxSalted: Int = MaxSaltedBuckets)
      : (DataFrame, Long, Long) = {
    val m = 64 / w
    def bandVal(i: Int): String = bandValSql(w, i)
    val exactCols = (0 until m).map(i =>
      struct(lit(i).as("band"), expr(bandVal(i)).as("bv")))
    val exact = h.select(col("doc_id"), explode(array(exactCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // ≤p-bit XOR masks, driver-enumerated (a pure function of the layout,
    // bounded by the probesPerBand feasibility cut — never data-sized)
    val masks: Array[Long] = (0 to p).flatMap(i =>
      (0 until w).combinations(i).map(_.foldLeft(0L)((a, b) => a | (1L << b)))).toArray
    val probeCols = (0 until m).map(i =>
      struct(lit(i).as("band"), expr(bandVal(i)).as("bv0")))
    val probes = h.select(col("doc_id"), explode(array(probeCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        explode(lit(masks)).as("mask"), col("bb.bv0"))
      .select(col("doc_id"), col("band"), expr("bv0 ^ mask").as("bv"))
    // Hot-bucket SALTING — the dfCap idiom's exactness-preserving sibling
    // for the Hamming join: a (band, value) bucket holding c hashes makes
    // ONE join task emit ~c²·P candidate rows (the measured sf1 corpus
    // concentrates 1,121 hashes on one 16-bit value → ~21M pairs in one
    // task → disk spill in the verify leg). Buckets whose MEASURED
    // occupancy exceeds [[HotBucketCap]] get a per-bucket salt factor
    // s = ⌈c/cap⌉: the home side salts by pmod(xxhash64(doc_id), s), the
    // probe side replicates over all s values, and the join key gains the
    // salt — every pair still matches exactly once (at the home row's
    // salt), so the pair set is UNCHANGED while per-task verify volume is
    // bounded by ~cap·c·P. Only hot-bucket probe rows pay the replication
    // (the broadcast hot list is ≤ buckets/cap rows); a spread corpus pays
    // nothing. The hot-bucket count surfaces as an audit column the oracle
    // replays from the same measured statistics.
    // The driver collect is BOUNDED at [[MaxSaltedBuckets]]: over-cap
    // buckets are ≤ n·m/cap by pigeonhole, which on a degenerate corpus
    // (near-constant hashes) is still O(n) at the 100 TB design point —
    // too big to ship to the driver. So only the top-K HOTTEST buckets
    // get salted (one TakeOrderedAndProject, ≤ K+1 driver rows); the tail
    // stays unsalted, which cannot change the pair set — salting only
    // rebalances tasks — and the tail buckets are by construction the
    // LEAST imbalanced of the hot set. A spread corpus (every tested sf)
    // takes the zero-hot fast path — no salt column, no extra joins, the
    // plain (band, value) equi-join — so the salting machinery costs
    // exactly one tiny aggregate job until a corpus actually needs it.
    // The surfaced audit count stays the TOTAL over-cap census (what the
    // oracle recomputes); only past-K truncation pays a second aggregate
    // pass to count it.
    val hotAgg = exact
      .groupBy(col("band"), col("bv")).agg(count(lit(1)).as("c"))
      .filter(col("c") > hotCap)
      .select(col("band"), col("bv"), col("c"),
        ceil(col("c").cast("double") / hotCap).cast("int").as("s"))
    val topHot = hotAgg
      .orderBy(col("c").desc, col("band"), col("bv"))
      .limit(maxSalted + 1).collect()
    val hotRows: Array[(Int, Long, Int)] = topHot.take(maxSalted)
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(3)))
    val nHot =
      if (topHot.length <= maxSalted) topHot.length.toLong else hotAgg.count()
    val (probesS, exactS) =
      if (hotRows.isEmpty)
        (probes.withColumn("salt", lit(0)),
          exact.withColumn("salt", lit(0)))
      else {
        import h.sparkSession.implicits._
        val hot = broadcast(hotRows.toSeq.toDF("band", "bv", "s"))
        (probes.join(hot, Seq("band", "bv"), "left")
          .select(col("doc_id"), col("band"), col("bv"),
            explode(sequence(lit(0), coalesce(col("s"), lit(1)) - 1)).as("salt")),
          exact.join(hot, Seq("band", "bv"), "left")
            .withColumn("salt",
              when(col("s").isNull, lit(0))
                .otherwise(pmod(xxhash64(col("doc_id")), col("s")).cast("int")))
            .select(col("doc_id"), col("band"), col("bv"), col("salt")))
      }
    // Candidate stream → PIPELINED verify → distinct, in that order: the
    // candidate multiset (every (probe, home) collision, duplicated across
    // matching bands/masks/salts) is the one data-sized intermediate in
    // this query, so it must never hit a blocking operator. De-duplicating
    // BEFORE the verify looks cheaper on paper but materializes the whole
    // multiset into a hash aggregate — the measured sf1 spill (the agg's
    // sort fallback wrote ~9 GB for a ~1 MB input). Instead the stream
    // flows through the two hash-frame joins (map-side at any scale where
    // the 16 B/row frame broadcasts; salted SMJ with bounded tasks past
    // it) and the exact-Hamming popcount filter while still inside
    // whole-stage codegen — nothing accumulates — and DISTINCT runs on
    // the verified survivors, a set bounded by true-pair multiplicity
    // (≤ m·(1+probes) duplicates per real pair, output-sized).
    val cand = probesS.as("a").join(exactS.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val pairs = cand
      .join(h.select(col("doc_id").as("id_a"), col("phash_lo").as("lo_a"),
        col("phash_hi").as("hi_a")), Seq("id_a"))
      .join(h.select(col("doc_id").as("id_b"), col("phash_lo").as("lo_b"),
        col("phash_hi").as("hi_b")), Seq("id_b"))
      .withColumn("hamming",
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
      .filter(col("hamming") <= tau)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
    (pairs, nHot, hotRows.length.toLong)
  }

  /** Perceptual-hash (dHash) of every image — the image-side near-dup
    * sketch (the [[graft.operators.Dedup]] SimHash idea on pixels:
    * resize-invariant gradient signs, so re-encoded/rescaled copies of
    * one image hash close in Hamming space, and the SAME banding
    * machinery finds candidate pairs). Real decode, integer downsample,
    * then the bit rule runs as the SHARED [[dhashSql]] expression over
    * the exported grays — hash construction oracle-replayed end to end.
    */
  def phashQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureGrays(spark, dir)
    graft.Tables.storeParquet(spark, s"$path/grays")
      .select(col("doc_id"),
        expr(dhashSql("grays", 0, base = 0)).as("phash_lo"),
        expr(dhashSql("grays", 1, base = 0)).as("phash_hi"))
      .withColumn("n_ones", expr("bit_count(phash_lo) + bit_count(phash_hi)").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Cross-modal near-dup join — the curation decision the text-side
    * MinHash family and the image-side phash family exist to feed: a
    * multimodal document is flagged when EITHER modality is a known
    * near-dup, and the interesting rows are the disagreements (novel text
    * carrying a duplicated image, or verbatim text with a fresh image —
    * the cases a single-modality dedup silently ships or over-deletes).
    *
    * Composition, not new machinery: the text leg is the banded
    * [[Dedup.minhashMd5Pairs]] candidate join; the image leg is
    * [[phashPairsQuery]]'s multi-index Hamming join with image ids mapped
    * to their documents through the deterministic link (variant id =
    * doc_id + [[VariantOffset]]) and same-document pairs dropped (a
    * rescaled variant matching its own source is expected, not a
    * cross-document dup). Both legs are the existing band-join shuffle
    * shapes; the final full-outer join unites two bounded flag sets
    * (≤ flagged docs each). Output: one row per flagged doc with both
    * flags and the curation verdict.
    */
  def crossModalQuery(spark: SparkSession, dir: String, tau: Int = 7): DataFrame = {
    // Each leg composes the UNSORTED pair core, and both sides of a pair
    // explode out of ONE scan of the join: Catalyst does not share
    // subtrees (a union of two selects executes the band join twice), and
    // the sorted query surface would add a RangePartitioning sampling
    // pass that re-executes the join once more under the explode
    // (measured ≈2× each at the sf1 decade).
    val textDocs = Dedup.minhashMd5PairsUnsorted(spark, dir)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("text_dup", lit(1L))
    def docOf(c: org.apache.spark.sql.Column) =
      when(c >= VariantOffset, c - VariantOffset).otherwise(c)
    val imageDocs = phashPairs(spark, dir, tau)
      .select(docOf(col("id_a")).as("doc_a"), docOf(col("id_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("image_dup", lit(1L))
    textDocs.join(imageDocs, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("text_dup"), lit(0L)).as("text_dup"),
        coalesce(col("image_dup"), lit(0L)).as("image_dup"))
      .withColumn("curation",
        when(col("text_dup") === 1 && col("image_dup") === 1, "both")
          .when(col("text_dup") === 1, "text_only")
          .otherwise("image_only"))
      .orderBy(col("doc_id"))
  }

  /** Named query: binary-column metadata projection. The oracle checks the
    * engine-agnostic parts (byte length, first code point); the stubbed
    * decode fields are covered by MultimodalSpec.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    withBinary(spark, dir)
      .select(col("doc_id"),
        octet_length(col("media")).as("n_bytes"),
        ascii(col("text")).as("first_cp"))
      .orderBy(col("doc_id"))

  /** Named query: frame sampling over the binary column (oracle-checked:
    * frame boundaries are pure byte arithmetic on both engines).
    */
  def framesQuery(spark: SparkSession, dir: String): DataFrame =
    frameSample(withBinary(spark, dir).select(col("doc_id"), col("media")), "media")
      .orderBy(col("doc_id"), col("frame_no"))

  /** Named query: batched resize; the stub's output length is a pure
    * function of input bytes so the oracle can check it.
    */
  def resizeQuery(spark: SparkSession, dir: String): DataFrame =
    resize(withBinary(spark, dir).select(col("doc_id"), col("media")), "media", 64, 64)
      .select(col("doc_id"), octet_length(col("resized")).as("resized_len"))
      .orderBy(col("doc_id"))
}
