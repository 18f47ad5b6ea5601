package graft.queries

/** Every driver query, one [[Query]] value each, gathered from the family
  * files. [[graft.SparkEntry]] derives the driver's `queries` and
  * `oracleSql` maps from it. */
object Registry {

  val all: Seq[Query] =
    RelationalQueries.all ++ ValidationQueries.all ++ PipelineQueries.all ++
      SimilarityQueries.all ++ StreamingQueries.all ++ MediaQueries.all

  val byName: Map[String, Query] = index(all)

  /** `qs` by name; a name used twice fails instead of one query silently
    * replacing the other. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
