package graft.queries

/** The query registry: every [[QueryDef]] of the eight family files, by
  * name. Adding a query means adding one `QueryDef` to its family's `all`.
  */
object Queries {

  /** Indexes `defs` by name. A name stated twice fails, naming it — a
    * `Map` literal would silently keep only the last one.
    */
  def registry(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  lazy val all: Map[String, QueryDef] = registry(
    VectorQueries.all ++ CrudQueries.all ++ DedupQueries.all ++ RelationalQueries.all ++
      MultiModelQueries.all ++ FlowQueries.all ++ TemporalQueries.all ++ StreamingQueries.all)

  /** The names in a comma-separated query list, in order. A name that is
    * not registered fails here, naming it: a typo would otherwise verify
    * nothing, or stop a sweep partway through.
    */
  def select(filter: String): Seq[String] = {
    val names = filter.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(all.contains)
    require(names.nonEmpty, s"no query names in filter '$filter'")
    require(unknown.isEmpty, s"unknown query names: ${unknown.sorted.mkString(", ")}")
    names
  }
}
