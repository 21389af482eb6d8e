package graft.queries

/** Central inventory of every verifiable operator query. SparkEntry
  * derives `queries` / `oracleSql` from this list; graft.Bench times
  * every entry.
  */
object Registry {
  def all: Seq[Q] =
    RelationalQueries.all ++ FunctionQueries.all ++ WindowQueries.all ++
      PipelineQueries.all ++ SketchQueries.all ++ StreamingQueries.all ++ ApiQueries.all ++
      SourceQueries.all ++ MiscQueries.all ++ AnalyticsQueries.all ++
      GraphQueries.all ++ TpchQueries.all
}
