package perfbench

import org.apache.spark.sql.SparkSession
import graft.queries._

/** One benchmark workload: a fixed set of declared queries drawn from
  * the packs that define it, plus the shared stages and layouts those
  * queries read, which are built during set-up before any timed query.
  *
  * The stage lists mirror the members `graft.Bench` keeps by hand for
  * the same stages; they go away with it once the engine declares its
  * stages next to the queries that read them. */
final case class Workload(
    name: String,
    packs: Seq[QueryPack],
    queries: Seq[String],
    stages: Seq[(String, (SparkSession, String) => Unit)])

object Workloads {
  private def names(packs: Seq[QueryPack]): Set[String] =
    packs.flatMap(_.queries.map(_.name)).toSet

  val all: Seq[Workload] = Seq(
    // eager graph and ML loops: most of the work runs as jobs inside the
    // builder, before the final plan exists
    Workload("graph_ml", Seq(MlPack),
      Seq("m15_lpa", "m14_assortativity", "m7_pca", "j6_knn", "m4_dbscan",
        "m6_louvain", "m6i_louvain_inv", "m10_layout", "m10i_layout_inv", "m17_ols"),
      Seq("setup_ml_features" -> MlPack.buildSharedStage,
        "setup_corr_graph" -> MlPack.buildCorrStage)),
    // single lazy plans over the star schema and the events panel:
    // Catalyst, shuffle and executor work
    Workload("scan_agg", Seq(RelationalPack, TimeSeriesPack, IndicatorPack, PanelPack),
      Seq("q1_pricing", "q3_topk", "q5_starjoin", "q13_custdist", "q18_bigorders",
        "w1_returns", "w4_rolling", "w12_islands", "w20_features16", "w24_beta",
        "g1_symbol_features", "p2_filtered_agg", "j3_pivot", "g15_approx"),
      Seq("setup_events_part" ->
        ((s: SparkSession, d: String) => { graft.io.EventsLayout.path(s, d); () }))),
    // per-row compiled kernels (n-grams, MinHash, PQ distance, cosine)
    Workload("kernels", Seq(DedupSimPack, TextPack),
      Seq("t18_bpe", "t2_langid", "t3_tokens", "t14_repetition", "d2_minhash_lsh",
        "d4_ngram_jaccard", "d12_shared_chunks", "d14_semdedup", "s7_pq_topk",
        "s10_sq_topk", "s12_ivfsq", "s15_kcenter", "s1_cosine_topk", "d3_simhash"),
      Seq("setup_dedup_shared" -> DedupSimPack.buildSharedStage)),
    // structured-streaming micro-batches drained to memory sinks
    Workload("stream", Seq(StreamMultimodalPack),
      Seq("st1_stream_daily", "st2_stream_transitions", "st3_stream_dedup",
        "st4_stream_rolling", "st5_stream_ewm", "st11_stream_enrich",
        "st13_stream_upsert", "st14_stream_funnel", "st23_stream_asof",
        "st28_stream_neardedup"),
      Nil))

  def byName(n: String): Workload = {
    val w = all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload $n (have ${all.map(_.name).mkString(", ")})"))
    val missing = w.queries.filterNot(names(w.packs))
    require(missing.isEmpty, s"$n names queries its packs do not declare: $missing")
    w
  }
}
