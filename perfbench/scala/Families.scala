package graft.perfbench

/** Prints `workload<TAB>query` for the two query workloads: `olap` is the
  * relational and event families, `llm_pipeline` the dedup and pipeline
  * families plus the text queries built on `TextPipeline` operators.
  */
object Families {
  private val textPipeline =
    Set("t13_chunking", "t14_pii_redaction", "t19_gopher_rules", "t20_lm_quality",
      "t21_ppl_buckets")

  def main(args: Array[String]): Unit = {
    import graft.queries._
    val families = Seq(
      "olap" -> (RelationalQueries.queries.keys ++ EventQueries.queries.keys),
      "llm_pipeline" -> (DedupQueries.queries.keys ++ PipelineQueries.queries.keys ++
        TextQueries.queries.keys.filter(textPipeline)))
    for ((w, names) <- families; n <- names.toSeq.sorted) println(s"$w\t$n")
  }
}
