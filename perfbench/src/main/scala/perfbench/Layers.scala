package perfbench

/** The per-layer metric names of the traced run. Every traced run
  * reports all of them; a span its workload does not enter reads 0. */
object Layers {
  /** Spans with the full roll-up (wall, jobs, tasks, shuffle, spill,
    * driver gap), in the order the workloads enter them. */
  val fullSpans: Seq[String] = Seq(
    "sources.Ingestion.emit",
    "operators.Resolver.canonicalize",
    "sources.StatementIO.write",
    "operators.EntityAssembler.assembleColumnar",
    "operators.Validators",
    "etl.Etl.run",
    "operators.Blocking.candidates",
    "operators.Matcher.score",
    "operators.Blocking.topK",
    "operators.AutoMerge.decide",
    "operators.Adjacency.refEdges",
    "operators.Centrality.bfsDistances",
    "operators.Centrality.betweenness",
    "operators.ConnectedComponents.run")

  /** Product sinks, run one after another in the traced run (inside
    * `Etl.run` they run concurrently); wall only. */
  val sinks: Seq[String] = Seq("ftm_json", "names_txt", "simple_csv",
    "nested_json", "senzing_json", "statistics_json", "statements_csv",
    "delta_json", "index_json", "catalog_json").map(s => s"operators.Exporters.sink.$s")

  val spans: Seq[String] = fullSpans ++ sinks

  /** Counters measured where the work happens. */
  val counters: Seq[String] = Seq(
    "sources.Ingestion.emit.rows_out",
    "sources.Ingestion.emit.rejected_ratio",
    "sources.StatementIO.write.written_mb",
    "operators.EntityAssembler.assembleColumnar.entities",
    "operators.Resolver.canonicalize.clusters",
    "operators.Blocking.candidates.candidate_pairs",
    "operators.Blocking.candidates.true_pair_ratio",
    "operators.Blocking.topK.kept_pairs",
    "operators.AutoMerge.decide.auto_decisions",
    "operators.Adjacency.refEdges.edges",
    "operators.Centrality.bfsDistances.reached_pairs",
    "operators.ConnectedComponents.run.components")

  /** The span whose wall is the whole traced op, where the traced op is
    * one call; otherwise the traced op is the sum of its spans. */
  val opSpan: Map[String, String] = Map("daily_publish" -> "etl.Etl.run")

  def metrics(stats: Map[String, SpanStats], counts: Map[String, Double]): Map[String, Double] = {
    val unknown = counts.keySet -- counters
    require(unknown.isEmpty, s"undeclared counters: ${unknown.mkString(", ")}")
    fullSpans.flatMap { s =>
      val st = stats(s)
      Seq(s"$s.wall_s" -> st.wallS, s"$s.jobs" -> st.jobs.toDouble,
        s"$s.tasks" -> st.tasks.toDouble, s"$s.shuffle_mb" -> st.shuffleMb,
        s"$s.spill_mb" -> st.spillMb, s"$s.driver_gap_s" -> st.driverGapS)
    }.toMap ++ sinks.map(s => s"$s.wall_s" -> stats(s).wallS) ++
      counters.map(c => c -> counts.getOrElse(c, 0.0))
  }
}
