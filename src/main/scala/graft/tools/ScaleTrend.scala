package graft.tools

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: the 5x scale-trend probe behind SURVEY §5b's table.
  *
  * Builds an offset-key replica of an SF directory (every data-scaling
  * table unioned `factor` times with disjoint key ranges — five
  * disconnected graph copies, 5x docs/events/embeddings; the constant
  * dims region/nation are copied as-is), then times a set of heavy
  * queries on both dirs through [[QueryDef.execute]] (warm min-of-2). A
  * query whose time grows ~linearly (or sub-linearly, from fixed overhead
  * amortizing) has no quadratic candidate blowup, broadcast limit, or
  * per-round edge explosion.
  *
  * Usage: runMain graft.tools.ScaleTrend [srcDir] [outDir] [factor]
  */
object ScaleTrend {
  private val KeyOffset = 1000000000L

  /** table -> key columns shifted by copy-index * KeyOffset. */
  private val offsets: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_suppkey", "l_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    // constant dims: copied once, never replicated
    "region" -> Nil,
    "nation" -> Nil)

  def build(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    offsets.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val rep =
        if (keys.isEmpty) base
        else (0 until factor).map { i =>
          keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * KeyOffset)))
        }.reduce(_ unionByName _)
      rep.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale5x"
    val factor = if (args.length > 2) args(2).toInt else 5
    // args(3): comma-separated name subset — re-probe suspected throttle
    // noise against an ALREADY-BUILT replica without the full sweep
    val only = if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = GraftSession.get(32)
    spark.sparkContext.setLogLevel("ERROR")
    if (only.isEmpty) build(spark, src, out, factor)

    // the heavy queries and those with non-trivial scale shapes, by
    // family. Rows that are not linear by design: q_range_join's match
    // volume grows with events × band density, which the replica also
    // multiplies (a nested-loop plan is what must stay absent); the
    // probe-bounded gates gr_centrality_err and gr_centrality_tuning do
    // constant work and should read FLAT; tx_bpe_tuning's rounds grow with
    // the vocabulary, not the corpus; ops_day and ops_week carry a fixed
    // maintenance latency on top of data-linear ingest
    val names = Seq(
      "q1_pricing_summary", "q_rollup", "q_bloom_prune", "q_range_join", "q_point_in_time",
      "q_skew_audit", "etl_clean_text", "etl_weighted_sample", "etl_scd2", "etl_split_train_val",
      "etl_shard_shuffle", "etl_profile_columns", "etl_mixture_schedule", "etl_split_by_cluster",
      "etl_pack_bpe", "an_conversion", "an_session_stats", "an_concurrency", "an_kmv_overlap",
      "an_pareto_share", "an_cm_topk", "an_forecast_naive", "an_dow_anomaly", "an_explorer_page",
      "an_explorer_page_mc", "sent_agreement", "sent_lexicon", "sent_examples", "sent_nb_eval",
      "sent_lexicon_sens", "tx_fingerprint", "tx_contamination", "tx_boilerplate",
      "tx_hashed_features", "tx_char_diversity", "tx_bpe_encode", "tx_bpe_tuning", "dd_simhash",
      "dd_embedding", "dd_ngram_jaccard", "dd_span_coverage", "dd_lsh_tuning", "dd_cross_source",
      "dd_est_quality", "dd_embedding_sweep", "dd_minhash_lsh", "dd_split_leakage",
      "sim_bruteforce_topk", "sim_lsh_topk", "sim_pq_topk", "sim_kmeans_train", "sim_mmr_topk",
      "sim_filtered_topk", "sim_filtered_recall", "sim_ivf_append", "mm_frame_index",
      "mm_decode_meta", "mm_phash_dup", "mm_phash_clusters", "gr_pagerank", "gr_components",
      "gr_communities", "gr_betweenness_approx", "gr_link_predict", "gr_triangles",
      "gr_random_walks", "gr_ego_net", "gr_closeness_w", "gr_betweenness_w", "gr_louvain",
      "gr_louvain_ml", "gr_centrality_err", "gr_louvain_agree", "gr_centrality_tuning",
      "gr_community_quality", "ops_freshness", "ops_infra_gate", "ops_incremental_gate",
      "ops_store_lifecycle", "ops_graph_ingest", "ops_retrain_gate", "ops_day", "ops_week")
    def time(name: String, dir: String): Double =
      (1 to 2).map(_ => Registry.byName(name).execute(spark, dir).wallS).min
    names.filter(n => only.forall(_.contains(n))).foreach { n =>
      val a = time(n, src)
      val b = time(n, out)
      println(f"SCALETREND $n%-24s base=$a%6.2f x$factor=$b%6.2f ratio=${b / a}%5.2f")
    }
    spark.stop()
  }
}
