package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Synthetic next-decade testdata: blow an existing sf dir up `factor`×
  * into a new dir, so ScaleSweep can measure the 0.1→1 decade — the first
  * decade where plan cost dominates per-job overhead (SCALING.md's own
  * negative small-decade slopes show 0.001→0.01 measures the scheduler).
  *
  * The blow-up must preserve the DENSITY STRUCTURE of the corpus, not
  * just its row count, or the sweep measures the generator instead of the
  * engine:
  *   - every key column is offset per replica (`k + i·(max+1)`), so join
  *     integrity (orders↔lineitem↔part/supplier, orders↔customer,
  *     events.user_id cardinality) scales linearly exactly as TPC-H's own
  *     scale factor does — the customer DIMENSION grows 10×, which is
  *     precisely what the orders_pareto two-phase window must survive;
  *   - document text is made replica-distinct by suffixing every token
  *     (replica 0 is verbatim), so the near-dup pair structure REPEATS
  *     10× (linear growth) instead of clone-exploding quadratically —
  *     the constant-density null model a 10×-bigger real corpus follows;
  *   - embeddings get a per-replica deterministic sign-flip pattern
  *     (norms and within-replica geometry preserved, cross-replica
  *     similarity decorrelated) for the same reason;
  *   - region/nation stay fixed (genuinely constant dims).
  *
  * Deterministic end to end — no RNG, the replica index drives every
  * transform. Usage:
  *   sbt "runMain graft.tools.BlowUp <sf0.1 dir> data/sf1 10"
  */
object BlowUp {

  /** Every table [[run]] writes — the fixed dims pass through unreplicated
    * (factor 1), the facts all share the replication factor. StampSf1's
    * sanity check leans on exactly this contract.
    */
  private[graft] val Dims = Seq("region", "nation")
  private[graft] val Facts = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Default output: `data/sf1` under the working directory (the checkout root). */
  private[graft] def DefaultOut: String = java.nio.file.Paths.get("data", "sf1").toAbsolutePath.toString

  private def replicate(spark: SparkSession, df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(spark.range(factor).toDF("rep"))

  /** k + rep·(max(k)+1): replica 0 is the original id space. */
  private def offsetKeys(spark: SparkSession, df: DataFrame, factor: Int,
                         keys: Seq[(String, Long)]): DataFrame = {
    val rep = replicate(spark, df, factor)
    keys.foldLeft(rep) { case (d, (k, max)) =>
      d.withColumn(k, col(k) + col("rep") * lit(max + 1L))
    }.drop("rep")
  }

  private def maxOf(df: DataFrame, k: String): Long =
    df.agg(max(col(k))).head().getLong(0)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else DefaultOut
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Writes the `factor`× blow-up of the sf dir `src` into `out`, one file
    * per table, and stamps `out` with `src`'s content key.
    */
  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    // single FILE per table, exactly like the driver's testdata — the
    // streaming sources rely on the `$dir/events.parquet*` glob trick
    def w(df: DataFrame, n: String): Unit = {
      val staging = s"$out/_stage_$n"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$out/$n.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      graft.streaming.StreamOps.rmTree(new java.io.File(staging))
      println(s"$n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }

    // fixed dims
    w(t("region"), "region"); w(t("nation"), "nation")

    val maxCk = maxOf(t("customer"), "c_custkey")
    val maxSk = maxOf(t("supplier"), "s_suppkey")
    val maxPk = maxOf(t("part"), "p_partkey")
    val maxOk = maxOf(t("orders"), "o_orderkey")
    w(offsetKeys(spark, t("customer"), factor, Seq("c_custkey" -> maxCk)), "customer")
    w(offsetKeys(spark, t("supplier"), factor, Seq("s_suppkey" -> maxSk)), "supplier")
    w(offsetKeys(spark, t("part"), factor, Seq("p_partkey" -> maxPk)), "part")
    w(offsetKeys(spark, t("orders"), factor,
      Seq("o_orderkey" -> maxOk, "o_custkey" -> maxCk)), "orders")
    w(offsetKeys(spark, t("lineitem"), factor,
      Seq("l_orderkey" -> maxOk, "l_partkey" -> maxPk, "l_suppkey" -> maxSk)), "lineitem")

    val ev = t("events")
    w(offsetKeys(spark, ev, factor,
      Seq("event_id" -> maxOf(ev, "event_id"), "user_id" -> maxOf(ev, "user_id"))),
      "events")

    // documents: token-suffix replicas 1..f-1 so cross-replica similarity
    // is zero (constant near-dup density); n_chars re-derived from the text,
    // in the source's type (length() is an int, the source column a long)
    val doc = t("documents")
    val maxD = maxOf(doc, "doc_id")
    w(replicate(spark, doc, factor)
      .withColumn("doc_id", col("doc_id") + col("rep") * lit(maxD + 1L))
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              x => concat(x, lit("r"), col("rep"))))))
      .withColumn("n_chars", length(col("text")).cast(doc.schema("n_chars").dataType))
      .drop("rep"), "documents")

    // embeddings: per-replica sign-flip mask hashed from (rep, dim) —
    // exact (negation), norm-preserving, and GENUINELY decorrelating:
    // every replica draws its own ~50% flip pattern, so no two replicas
    // share a mask (a stride rule like (j·rep) % 3 degenerates to two
    // equivalence classes — reps ≡ 0 mod 3 flip nothing and every other
    // rep flips the same j % 3 = 0 dims, making cross-replica vectors
    // exact clones and biasing the sf1 neighbor structure)
    val emb = t("embeddings")
    val maxV = maxOf(emb, "vec_id")
    w(replicate(spark, emb, factor)
      .withColumn("vec_id", col("vec_id") + col("rep") * lit(maxV + 1L))
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => when(pmod(hash(col("rep"), j), lit(2)) === 0, x).otherwise(-x))))
      .drop("rep"), "embeddings")

    // Source-generation stamp (the IndexStore `_src_fp_*` scheme): the
    // driver regenerates the testdata between rounds, and a sweep against
    // a blow-up of the PREVIOUS generation would silently compare
    // mismatched corpora — ScaleSweep/ShuffleAudit check this marker and
    // warn loudly when the sf1 dir is stale.
    graft.sources.Artifact.SrcFp.stamp(out, graft.sources.Artifact.sourceKey(src))
  }

  /** True when the blow-up at `out` was generated from the CURRENT
    * content of `src` (stamped by [[run]]); pre-stamp dirs report false.
    */
  private[graft] def currentFor(out: String, src: String): Boolean =
    graft.sources.Artifact.sourceCurrent(out, src)
}

/** One-off stamper for a blow-up dir that predates the `_src_fp` scheme
  * but is KNOWN to derive from the current source (verified out-of-band —
  * e.g. both regenerated in the same round). Usage:
  * `runMain graft.tools.StampSf1 <src> <out> [--force]`.
  *
  * Guarded: stamping an arbitrary dir as derived-from-current would
  * permanently defeat the stale-blow-up warning in ScaleSweep /
  * ShuffleAudit, so before stamping it sanity-checks that `out` plausibly
  * IS a blow-up of `src` — same table set, same schemas, and each table's
  * row count an integer multiple (the replication factor) of the source's,
  * with ONE factor shared across tables. `--force` skips the check for
  * the genuinely-verified-out-of-band case, and says so on stdout.
  */
object StampSf1 {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_ == "--force")
    val force = args.contains("--force")
    val src = if (pos.length > 0) pos(0) else "/root/testdata/sf0.1"
    val out = if (pos.length > 1) pos(1) else BlowUp.DefaultOut
    if (force) println(s"--force: skipping blow-up sanity check for $out")
    else {
      val spark = GraftSession.local()
      val factor = check(spark, src, out)
      println(s"sanity ok: ${factor}x blow-up across ${BlowUp.Facts.size} fact tables")
      spark.stop()
    }
    graft.sources.Artifact.SrcFp.stamp(out, graft.sources.Artifact.sourceKey(src))
    println(s"stamped $out from $src")
  }

  /** The replication factor of `out` over `src`; fails, naming the table,
    * unless `out` plausibly is a blow-up of `src`.
    */
  def check(spark: SparkSession, src: String, out: String): Long = {
    def factorOf(t: String): Long = {
      val s = spark.read.parquet(s"$src/$t.parquet")
      val o = spark.read.parquet(s"$out/$t.parquet")
      require(o.schema == s.schema,
        s"$t: schema mismatch between $out and $src — not a blow-up of this source")
      val (sn, on) = (s.count(), o.count())
      require(sn > 0 && on % sn == 0,
        s"$t: $out has $on rows, not an integer multiple of $src's $sn")
      on / sn
    }
    BlowUp.Dims.foreach(t => require(factorOf(t) == 1,
      s"$t: dims pass through unreplicated — factor != 1 means wrong source"))
    val factors = BlowUp.Facts.map(t => t -> factorOf(t))
    require(factors.map(_._2).distinct.size == 1,
      s"replication factor differs across facts (${factors.mkString(", ")}) — refusing to stamp")
    factors.head._2
  }
}
