package graft.sources

import scala.collection.concurrent.TrieMap

/** Persisted Bloom-filter sidecar over a data dir — the membership sketch a
  * growing corpus keeps NEXT TO the data so that every ingest batch can
  * cheaply ask "is this content hash possibly already here?" without a
  * corpus-wide join ([[graft.operators.Dedup.bloomIncrementalDedup]]).
  *
  * Follows the same artifact lifecycle as the other stores (IndexStore,
  * GraphIndex, the band index): built once per source-content generation,
  * invalidated by the `_src_fp_<fingerprint>` marker when the source data is
  * regenerated (Tables.dirFingerprint — path- and content-token-sensitive),
  * and memoized in-process so repeated queries in one session neither
  * rebuild nor re-read it. The sketch itself is a single `bloom.bin` file
  * whose size is the `numBits` knob, NEVER a function of corpus size — the
  * bounded-metadata contract (1 MiB at the default 8 M bits).
  *
  * At 100 TB the real pipeline updates the sidecar incrementally (Bloom
  * bit-OR is associative — each ingest batch ORs its partial filter in);
  * here a stale sidecar is simply rebuilt with one map-combined pass.
  */
object BloomSidecar {

  private val memo = TrieMap.empty[String, Array[Byte]]

  private[graft] def root(dir: String): String =
    Artifact.storeDir("bloom_store", dir)

  /** The sidecar bytes for (dir, name, numBits), building via `build` only
    * when no current-generation copy exists on disk or in the memo.
    */
  def ensure(dir: String, name: String, numBits: Long)(build: => Array[Byte]): Array[Byte] = {
    val path = s"${root(dir)}/${name}_$numBits"
    val fp = Artifact.sourceKey(dir)
    memo.getOrElseUpdate(s"$path|$fp", {
      val bin = java.nio.file.Paths.get(path, "bloom.bin")
      Artifact.ensure(path, fp, Seq("bloom.bin"), Artifact.SrcFp) {
        val bytes = build
        java.nio.file.Files.createDirectories(bin.getParent)
        java.nio.file.Files.write(bin, bytes)
      }
      java.nio.file.Files.readAllBytes(bin)
    })
  }

  /** Day-2 maintenance: absorb an ingest delta WITHOUT a corpus rescan.
    * Bloom union is exact — OR-ing the delta's bits into the sidecar gives
    * the same filter as rebuilding over corpus ∪ delta — so the merged
    * sidecar is re-stamped to the source's CURRENT generation. The contract
    * is the production incremental one: the caller guarantees `delta`
    * summarizes exactly what was added since the sidecar's generation.
    * Both filters must share (numBits, numHashFunctions) — i.e. be built
    * with the same aggregate parameters — or the sketch library refuses
    * the merge (IncompatibleMergeException, surfaced loudly).
    */
  def absorb(dir: String, name: String, numBits: Long, delta: Array[Byte]): Array[Byte] = {
    val path = s"${root(dir)}/${name}_$numBits"
    val bin = new java.io.File(path, "bloom.bin")
    require(bin.exists(), s"no sidecar to absorb into at $path — ensure() first")
    val merged = org.apache.spark.util.sketch.BloomFilter
      .readFrom(java.nio.file.Files.readAllBytes(bin.toPath))
      .mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(delta))
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    val bytes = bos.toByteArray
    val fp = Artifact.sourceKey(dir)
    Artifact.ensure(path, fp, marker = Artifact.SrcFp, force = true) {
      java.nio.file.Files.write(bin.toPath, bytes)
    }
    memo.put(s"$path|$fp", bytes)
    bytes
  }
}
