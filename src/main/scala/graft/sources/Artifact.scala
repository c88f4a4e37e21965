package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The one build-once protocol every persisted store goes through, and the
  * only module that knows the marker format.
  *
  * A store is a directory of outputs plus a MARKER file that records which
  * input generation the outputs were built from. [[ensure]] skips the build
  * while the marker holds the caller's key and every named output exists;
  * otherwise it removes the marker, runs the build, and writes the marker
  * LAST — so a build that dies midway leaves no current marker and the next
  * call rebuilds instead of serving a torn store. Each (path, marker) pair
  * has its own JVM lock, so concurrent callers in one driver build once.
  *
  * Not guaranteed: exclusion against a build in ANOTHER JVM; atomic
  * publication (outputs are rewritten in place; readers that bypass
  * [[ensure]] can observe a half-written store); and an atomic IVF segment
  * fold ([[IndexStore.compact]] interrupted between its cell rewrite and
  * its segment deletes leaves those rows both in a cell and in a segment).
  */
object Artifact {

  /** A marker file under a store root. A content marker holds its key as
    * the file's text; a named marker is an empty file whose NAME carries
    * the key (`<name><key>`), and stamping it drops every previous key.
    */
  final class Marker private[Artifact] (val name: String, named: Boolean) {
    private def file(path: String, key: String): Path =
      Paths.get(path, if (named) name + key else name)

    /** The key a content marker holds, if stamped. */
    def read(path: String): Option[String] = {
      val f = Paths.get(path, name)
      if (!named && Files.isRegularFile(f)) Some(Files.readString(f).trim) else None
    }

    /** [[read]], failing when the marker is absent. */
    def key(path: String): String =
      read(path).getOrElse(throw new IllegalStateException(s"no $name marker under $path"))

    def holds(path: String, key: String): Boolean =
      if (named) Files.exists(file(path, key)) else read(path).contains(key)

    private[Artifact] def clear(path: String): Unit =
      if (named)
        Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.startsWith(name)).foreach(_.delete())
      else Files.deleteIfExists(Paths.get(path, name))

    /** Record `key`, replacing whatever the marker held. */
    def stamp(path: String, key: String): Unit = {
      clear(path)
      Files.createDirectories(Paths.get(path))
      if (named) Files.createFile(file(path, key)) else Files.writeString(file(path, key), key)
    }
  }

  /** Fresh id per build of an index store; dependents compare against it. */
  val BuildId = new Marker("_build_id", named = false)
  /** The IVF `_build_id` a PQ store's cells were assigned from. */
  val IvfBuildId = new Marker("_ivf_build_id", named = false)
  /** The source generation a derived store was built from. */
  val BuiltFrom = new Marker("_built_from", named = false)
  /** The (generation, decision) a maintenance store acted on. */
  val MaintFrom = new Marker("_maint_from", named = false)
  /** The half-store generation a streaming absorb run completed against. */
  val StreamComplete = new Marker("_stream_complete", named = false)
  /** Fingerprint of the source data dir a store was built from. */
  val SrcFp = new Marker("_src_fp_", named = true)
  /** Fingerprint of the source data dir a sketch export was written from. */
  val ExportFp = new Marker("_fp_", named = true)
  /** `<build_id> <entry fingerprint>` a graph level was derived from. */
  def levelFrom(level: String): Marker = new Marker(s"_${level}_from", named = false)
  /** `<build_id> <beam>` tuned for a recall target. */
  def tunedBeam(targetMicro: Long): Marker = new Marker(s"_tuned_beam_$targetMicro", named = false)
  /** Which OPQ rotation a PQ store trained; part of its [[generation]]. */
  val RotationKind = "_rotation_kind"

  /** Canonical location of the `kind` store derived from data dir `dir`:
    * `data/<kind>/<dir, every char outside [A-Za-z0-9.] as _>` under the
    * JVM's working directory — the checkout root for sbt runs and the
    * mains — so two checkouts never build or race in each other's stores.
    * A pure function of (working directory, dir): callers and the DuckDB
    * oracle agree on the path without coordination.
    */
  def storeDir(kind: String, dir: String): String =
    Paths.get("data", kind, dir.replaceAll("[^A-Za-z0-9.]", "_")).toAbsolutePath.toString

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def locked[T](path: String, marker: Marker)(body: => T): T =
    locks.computeIfAbsent(
      Paths.get(path, marker.name).toAbsolutePath.normalize.toString, _ => new Object)
      .synchronized(body)

  /** Build the store at `path` unless `marker` holds `key` and every one of
    * `outputs` (relative to `path`, or absolute for a sibling the same
    * build writes) exists; `force` always builds. Returns whether it built.
    */
  def ensure(path: String, key: String, outputs: Seq[String] = Nil,
             marker: Marker = BuiltFrom, force: Boolean = false)(build: => Unit): Boolean =
    locked(path, marker) {
      val root = Paths.get(path)
      val current = !force && marker.holds(path, key) &&
        outputs.forall(o => Files.exists(root.resolve(o)))
      if (!current) {
        marker.clear(path)
        build
        marker.stamp(path, key)
      }
      !current
    }

  /** [[ensure]] keyed on the content fingerprint of the data dir `dir`,
    * computed once before the build.
    */
  def ensureSource(path: String, dir: String, outputs: Seq[String],
                   force: Boolean = false)(build: => Unit): Boolean =
    ensure(path, sourceKey(dir), outputs, SrcFp, force)(build)

  def sourceKey(dir: String): String = graft.Tables.dirFingerprint(dir).toString

  /** Whether `path` was stamped from the current content of `dir`. */
  def sourceCurrent(path: String, dir: String): Boolean = SrcFp.holds(path, sourceKey(dir))

  /** The value `marker` records for `key` (stored as `<key> <value>`),
    * computing and recording it when the marker is absent or for another key.
    */
  def remember(path: String, marker: Marker, key: String)(compute: => String): String =
    locked(path, marker) {
      marker.read(path).filter(_.startsWith(s"$key ")).map(_.drop(key.length + 1))
        .getOrElse {
          val value = compute
          marker.stamp(path, s"$key $value")
          value
        }
    }

  /** Stamp a fresh build id. It also drops the planner's memoized store
    * detection, so the next plan re-reads the marker and can never probe a
    * re-clustered layout through stale centroids.
    */
  def stampBuildId(path: String): Unit = {
    BuildId.stamp(path, java.util.UUID.randomUUID().toString)
    graft.plans.AnnProbeRewrite.invalidate(path)
  }

  /** Provenance of a store generation: its build/source markers as
    * `name=content` joined by `|` — the key of stores derived from it.
    */
  def generation(path: String): String = {
    val names = Seq(BuildId.name, IvfBuildId.name, SrcFp.name, RotationKind)
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && names.exists(f.getName.startsWith))
      .sortBy(_.getName)
      .map(f => f.getName + "=" + Files.readString(f.toPath).trim)
      .mkString("|")
  }

  /** The local directory of catalog table `table` under the session's
    * warehouse, or None when the warehouse is not on the local filesystem.
    * The in-memory catalog forgets tables across JVMs while this directory
    * persists, so a CTAS must drop or re-register it.
    */
  def warehouseTableDir(spark: SparkSession, table: String): Option[java.io.File] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val uri = java.net.URI.create(wh.replace(" ", "%20"))
    val base =
      if (uri.getScheme == null) Some(new java.io.File(wh))
      else if (uri.getScheme == "file") Some(new java.io.File(uri.getPath))
      else None
    base.map(new java.io.File(_, table.toLowerCase))
  }
}
