package perfbench

import graft.{GraftQuery, SparkEntry}

/** The registry ops each query workload runs, in cold-pass order. The
  * module of an op is the operator object whose `all` list holds it. */
object Workloads {
  /** Relational and LLM-data curation ops over one seeded star schema
    * and corpus: relational ops from seven modules (two of them ROADMAP
    * 100x targets, q18 and q21), then the dedup truth build, an exact
    * vector search and a text profile. The layout builders (bucketed
    * tables, shingle sets) make the cold pass differ from the steady
    * ones. */
  val queryMix: Seq[String] = Seq(
    "q1_pricing_summary", "q_rollup", "q18_large_orders",
    "q21_waiting_supplier", "lake_bucketed_join", "q_asof_join", "lake_scan",
    "d_cross_source_dup", "s_ann_bruteforce", "t_dataset_card")

  /** Tables each workload registers at set-up. */
  val tables: Map[String, Seq[String]] = Map(
    "query_mix" -> Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"),
    "lake_ingest" -> Seq("ingest_batches", "stream_events"))

  private lazy val modules: Map[String, String] = {
    import graft.operators._
    Seq[(String, Seq[GraftQuery])](
      "Lake" -> Lake.all, "Namespace" -> Namespace.all, "Durability" -> Durability.all,
      "Relational" -> Relational.all, "RelationalExt" -> RelationalExt.all,
      "RelationalMore" -> RelationalMore.all, "RelationalTpch" -> RelationalTpch.all,
      "Warehouse" -> Warehouse.all, "StreamJoins" -> StreamJoins.all,
      "Temporal" -> Temporal.all, "TextAnalysis" -> TextAnalysis.all,
      "Curation" -> Curation.all, "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
      "Multimodal" -> Multimodal.all, "Streaming" -> Streaming.all,
      "Layout" -> Layout.all, "Analytics" -> Analytics.all, "Insights" -> Insights.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  def moduleOf(op: String): String = modules.getOrElse(op, "unknown")

  def query(op: String): GraftQuery =
    SparkEntry.registry.find(_.name == op)
      .getOrElse(throw new NoSuchElementException(s"op $op is not in the registry"))
}
