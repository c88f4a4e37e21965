package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe shared by every main and the test suite:
  * a local session at [[cpus]] cores with the engine's scan config, the
  * events-table timestamp settings and [[graft.plans.GraftExtensions]].
  * `graft.tools.EntrySmoke` alone builds a vanilla session, on purpose.
  */
object GraftSession {

  def hostCores: Int = Runtime.getRuntime.availableProcessors

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else [[hostCores]]. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(value: Option[String]): Int = value match {
    case None => hostCores
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def local(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Scale-ADAPTIVE scan parallelism: the 4 MB openCostInBytes default
      // floors maxSplitBytes at 4 MB, so a single-file 5-20 MB table scans
      // with 2-4 tasks no matter the core count — compute-heavy scans
      // (exact kNN, simhash, phash) are core-starved at every test SF. At
      // 128 KB the split size follows totalBytes/defaultParallelism for
      // small inputs while big inputs stay governed by maxPartitionBytes
      // (128 MB) — behavior at 100 TB is unchanged (guide §6.1).
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's `ts` has shipped as TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `f` with `key` set to `value`, then puts back the previous
    * setting: the old value, or no setting at all when there was none.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = if (spark.sessionState.conf.contains(key)) Some(spark.conf.get(key)) else None
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
