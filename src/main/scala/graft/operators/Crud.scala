package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** CRUD surface of the vector store (SURVEY.md §2.4). Spark has no in-place
  * mutation, so every operation is table → table — the shape a 100 TB lake
  * needs anyway (immutable snapshots, MERGE-style rewrites):
  *
  *  - insert  = embed/construct + unionByName        (C1, `FAISS/PlainDemo/pipeline.py:60-74,106-108`)
  *  - delete  = left-anti join against the victim set (C2/C3, `pipeline.py:110-112`; `Milvus/stream1.py:297-315`)
  *  - update  = delete + re-insert                    (C4, `pipeline.py:91-104`)
  *  - upsert  = keyed keep-latest merge               (C5, `Milvus/stream1.py:370-371`)
  *
  * Victim selection is deterministic (modular predicate / key order) instead
  * of the reference's `random.sample` (`pipeline.py:80`) so results are
  * oracle-checkable; the shape of the plan is identical.
  */
object Crud {

  /** Synthetic batch of new vectors, exactly reproducible in SQL:
    * vec_id = 100000+i, label = i % 10, embedding[j] = ((i*31+j) % 97) / 97.
    * (S8 shape — generated rows, `FAISS/PlainDemo/pipeline.py:329-339`.)
    */
  def syntheticVectors(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong).toDF("i").select(
      (col("i") + 100000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((col("i") * 31 + j) % 97).cast("double") / lit(97.0))
        .cast("array<float>").as("embedding"),
      (col("i") % 10).cast("int").as("label"))

  /** C1: insert — append a constructed batch to the store. Output projects
    * a fixed-point probe of the first component so the oracle checks values,
    * not just counts.
    */
  def insert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    base.unionByName(syntheticVectors(spark, 100))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        floor(element_at(col("embedding"), 1).cast("double") * 1000000.0).cast("long").as("dim0_micro"))
      .orderBy(col("vec_id"))
  }

  /** C3: delete last-N by key order (`Milvus/stream1.py:297-315` — fetch PKs,
    * sort desc, take N, delete IN-list). The IN-list becomes a left-anti
    * join; the top-N runs as TakeOrderedAndProject, no global sort.
    */
  def deleteLastN(spark: SparkSession, dir: String, n: Int = 100): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val victims = e.select(col("vec_id")).orderBy(col("vec_id").desc).limit(n)
    e.join(victims, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** C2/P6: delete by predicate (deterministic stand-in for the reference's
    * random id sample, `pipeline.py:80-89`): drop vec_id ≡ 3 (mod 7).
    */
  def deleteByPredicate(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(!(col("vec_id") % 7 === 3))
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  /** C2 reference-faithful: seeded pseudo-random victim sampling
    * (`FAISS/PlainDemo/pipeline.py:80` `random.sample(range(ntotal), n)`)
    * that stays oracle-exact: a row is a victim iff a seeded
    * Knuth-multiplicative hash of its key lands under the sample rate —
    * scattered victims like the reference's RNG, reproducible in any SQL
    * engine (pure BIGINT arithmetic; no overflow below ~3.4e9 keys).
    * The victim set is an IN-list like `remove_ids` → left-anti join.
    */
  def deleteSeeded(spark: SparkSession, dir: String,
                   seed: Long = 42L, pct: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val r = ((col("vec_id") * lit(2654435761L) + lit(seed)) % lit(1000000007L)) % lit(100L)
    val victims = e.filter(r < pct).select(col("vec_id"))
    e.join(victims, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** C4: update = delete + re-insert with changed payload
    * (`pipeline.py:91-104`: remove_ids then re-encode + add).
    */
  def update(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val untouched = e.filter(!(col("vec_id") % 7 === 3))
    val reinserted = e.filter(col("vec_id") % 7 === 3)
      .withColumn("label", col("label") + 100)
    untouched.unionByName(reinserted)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** C4 second half — the FAISS POSITIONAL update (`FAISS/PlainDemo/
    * pipeline.py:91-104,114-123`): `remove_ids(sampled)` then `index.add`
    * of the re-encoded vectors, which assigns FRESH sequential positions
    * (ntotal, ntotal+1, …) — the updated rows lose their identity, unlike
    * the PK-preserving [[update]] (the canonical form; SURVEY §5 models
    * both). Victims are the deterministic vec_id ≡ 3 (mod 7) sample; fresh
    * ids are max(vec_id)+1… in old-id order, mirroring FAISS's arange
    * append. `reassigned` marks the identity-losing rows so the oracle
    * checks the semantics, not just the union.
    *
    * The fresh ordinals are assigned by the distributed two-pass
    * block-allocation, not a single-partition window: range-partition the
    * victims by old id, sort within partitions, and `zipWithIndex` (one
    * extra counting job computes each partition's offset). The ordinal of
    * a row is its rank in the global vec_id order REGARDLESS of where the
    * sampled range bounds fall, so the result is deterministic and
    * bit-identical to the old global-window form — but the widest thing
    * any task holds is its own partition, at any corpus scale.
    */
  def updatePositional(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // Bounded scalar; coalesced so an EMPTY embeddings table flows through
    // (max = NULL would NPE) — victims is then empty and the result is the
    // contract-schema empty frame, not a driver crash.
    val maxId = e.agg(coalesce(max(col("vec_id")), lit(-1L))).head().getLong(0)
    val untouched = e.filter(!(col("vec_id") % 7 === 3))
      .select(col("vec_id"), col("label").cast("long").as("label"), lit(0L).as("reassigned"))
    val victims = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"), col("label").cast("long"))
      .repartitionByRange(col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
    val spark2 = victims.sparkSession
    val readded = spark2.createDataFrame(
      victims.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(maxId + i + 1, r.getLong(1) + 100L, 1L)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("reassigned", org.apache.spark.sql.types.LongType))))
    untouched.unionByName(readded).orderBy(col("vec_id"))
  }

  /** C5: upsert by PK — keep-latest-version merge (`Milvus/stream1.py:370-371`).
    * union + window dedup ≡ MERGE; one shuffle on the key.
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val old = e.select(col("vec_id"), col("label"), lit(1).as("version"))
    val fresh = e.filter(col("vec_id") < 50)
      .select(col("vec_id"), (col("label") + 1000).as("label"), lit(2).as("version"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("version").desc)
    old.unionByName(fresh)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** P7: point lookup by PK (`Milvus/stream1.py:331,339-340`). */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 42)
      .select(col("vec_id"), col("label"))

  /** C7: counts / stats (`index.ntotal`, `collection.num_entities`). */
  def counts(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .rollup(col("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label").asc_nulls_first)

  /** CDC-style snapshot diff — the table-level change feed between two
    * corpus snapshots (the batch analogue of the reference's mutating
    * CRUD loop: what did this refresh ADD / REMOVE / CHANGE?). Snapshots
    * are derived deterministically from the documents table: the old
    * snapshot is missing `doc_id % 11 = 0`, the new one drops the delete
    * set ([[graft.Tables.deleted]]) and rewrites the text of `doc_id % 13 = 0`.
    *
    * Scale shape: each side reduces to (key, 8-byte content hash) BEFORE
    * the full-outer join, so the exchange moves 16 bytes/row instead of
    * document bytes; the hash is only ever compared within one engine, so
    * the oracle can use a different hash (md5) and still replay the
    * status column exactly. Unchanged rows are filtered out — the diff is
    * the (typically tiny) change feed, not a copy of the corpus.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), xxhash64(col("text")).as("h_old"))
    val neu = docs.filter(!Tables.deleted(col("doc_id")))
      .select(col("doc_id"), xxhash64(
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("h_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }
}
