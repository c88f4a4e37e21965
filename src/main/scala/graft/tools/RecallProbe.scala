package graft.tools

import graft.GraftSession
import graft.sources.PqStore
import graft.operators.VectorSearch

/** Dev probe: recall@5 of the PQ ADC search vs the exact search, per sf
  * dir — the measurement behind the recall notes in PqStore's Scaladoc
  * and PqStoreSpec's floor.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    for (sf <- args) {
      val path = PqStore.defaultPath(sf)
      PqStore.ensure(spark, sf, path)
      val nq = 20
      val exact = VectorSearch.knnExact(spark, sf, 5, nq).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallAt(p: String): Double = {
        val got = PqStore.search(spark, p, VectorSearch.querySet(spark, sf, nq), 5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      println(s"RECALL residual 48-bit $sf = ${recallAt(path)}")
      // recall-vs-bits curve: 8 subspaces × {2,4,6} bits ⇒ 16/32/48-bit
      // codes via nCodes ∈ {4,16,64} (48-bit = the canonical store above)
      val coarse = IndexStore.read(spark, IndexStore.defaultPath(sf))._2
      val emb = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      for ((nCodes, bits) <- Seq(4 -> 16, 16 -> 32)) {
        val p = path + s"_bits$bits"
        PqStore.writeFrom(spark, p, emb, coarse, nCodes = nCodes)
        println(s"RECALL residual $bits-bit $sf = ${recallAt(p)}")
        graft.streaming.StreamOps.rmTree(new java.io.File(p))
      }
      // no-rotation twin at the canonical 48 bits: isolates the OPQ
      // rotation's contribution (identity rotation, same coarse, same bits)
      val norotPath = path + "_norot"
      PqStore.writeFrom(spark, norotPath, emb, coarse, rotate = false)
      println(s"RECALL norot    48-bit $sf = ${recallAt(norotPath)}")
      graft.streaming.StreamOps.rmTree(new java.io.File(norotPath))
      // raw-encoding baseline via a single zero coarse centroid:
      // residual = v − 0 = v, cell term = 0 — exactly the raw scheme
      val rawPath = path + "_rawprobe"
      val zero = spark.range(1).select(lit(0).cast("int").as("cell_id"),
        lit((0 until 64).map(_ => 0.0).toArray).as("centroid"))
      PqStore.writeFrom(spark, rawPath, emb, zero)
      println(s"RECALL raw      48-bit $sf = ${recallAt(rawPath)}")
      graft.streaming.StreamOps.rmTree(new java.io.File(rawPath))
    }
    spark.stop()
  }
}
