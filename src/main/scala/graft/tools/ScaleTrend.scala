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
  * queries on the base and replica dirs with the bench's honest noop
  * forcing (warm min-of-2). A query whose time grows ~linearly (or
  * sub-linearly, from fixed overhead amortizing) has no quadratic
  * candidate blowup, broadcast limit, or per-round edge explosion.
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

    val names = Seq("q1_pricing_summary", "q_rollup", "etl_clean_text",
      "tx_fingerprint", "sent_agreement", "dd_simhash", "dd_embedding",
      "sim_bruteforce_topk", "sim_lsh_topk", "tx_contamination",
      "gr_pagerank", "gr_components", "gr_communities",
      "gr_betweenness_approx",
      // late-r10 operators with non-trivial scale shapes: the one-exchange
      // funnel, the capped-projection pair generator, the session chain,
      // the chunk-frequency shuffle join, and the PQ train+ADC+re-rank path
      "an_conversion", "gr_link_predict", "an_session_stats",
      "tx_boilerplate", "sim_pq_topk",
      // latest additions: triangle wedges, walk steps, the two-level
      // sweep line, the two-level systematic sample, SCD2 windows, and
      // the bloom prune
      "gr_triangles", "gr_random_walks", "an_concurrency",
      "etl_weighted_sample", "etl_scd2", "q_bloom_prune",
      // r11-changed paths: the shuffle-join Lloyd fit, the folded MMR
      // tail, the un-broadcast dedup verify, the graded-valence VADER
      // scorer, and the content-hash split/leak gate
      "sim_kmeans_train", "sim_mmr_topk", "dd_ngram_jaccard",
      "sent_lexicon", "etl_split_train_val",
      // late-r11: the span-hash shuffle, the KMV top-k + exact pair,
      // the per-label TakeOrdered union, and the binary frame explode
      "dd_span_coverage", "an_kmv_overlap", "sent_examples",
      "mm_frame_index",
      // this session: the bin-decomposed band join (NOTE: its MATCH
      // volume scales with events × band density — the replica multiplies
      // density too, so super-linear time here is the query's semantics,
      // not a plan defect; what must stay absent is a nested-loop plan),
      // the banding sweep's uncapped self-joins, the temporal feature
      // lookup, the histogram Pareto, the constant-df hashed vectorizer,
      // the frontier-join ego net, and the cross-source dup matrix
      "q_range_join", "dd_lsh_tuning", "q_point_in_time",
      "an_pareto_share", "tx_hashed_features", "gr_ego_net",
      "dd_cross_source", "sim_filtered_topk", "etl_shard_shuffle",
      "etl_profile_columns",
      // r12: the bounded-top-k recall gate, the char explode, the
      // skew-audit checkpoint, the weighted-insert sketch, the two-level
      // stride schedule, the signature-estimate eval, and the
      // scored-relation threshold sweep (sim_bruteforce_topk, now also
      // bounded-top-k, is already in the headline set above)
      "sim_filtered_recall", "tx_char_diversity",
      "q_skew_audit", "an_cm_topk", "etl_mixture_schedule",
      "dd_est_quality", "dd_embedding_sweep", "an_forecast_naive",
      "an_dow_anomaly", "ops_freshness",
      // r13: the hash-chunk salted bucket cap rides dd_minhash_lsh's
      // candidate build (already probed through dd_ngram_jaccard above);
      // new surfaces are the per-table count gate, the in-partition
      // GRF1 decode, and the code-point char explode (tx_char_diversity,
      // above, now regexp-based)
      "ops_infra_gate", "mm_decode_meta", "dd_minhash_lsh",
      // the split-leakage gate and its cluster-aware fix ride the shared
      // verified-pair/cluster relations plus split enrichment joins
      "dd_split_leakage", "etl_split_by_cluster",
      // r14: the weighted Bellman-Ford landmark relaxations (+ the
      // distance-leveled σ/δ DAG passes over the weighted shortest-path
      // DAG) and the file-incremental manifest-diff gate (batch-sized
      // probe work + one base corpus write)
      "gr_closeness_w", "gr_betweenness_w", "ops_incremental_gate",
      // r15: the multi-level coarsening (coarse relations are
      // community-count sized — the trend shows level 1 dominating),
      // the keyset continuation page, the store publish/append/compact/
      // serve lifecycle (file-count-scale maintenance + one bucketed
      // store build per dir), and the single-level sweeps it rides on
      "gr_louvain", "gr_louvain_ml", "an_explorer_page",
      "ops_store_lifecycle",
      // r16: the probe-bounded exact-vs-landmark error gate (constant
      // ProbeN² work — the trend should be FLAT), the seeded-schedule
      // agreement report (six fixed sweeps + a contingency aggregate),
      // the appended-edge-store PageRank gate (one bucketed store build
      // + ten rounds), and the composite keyset page
      "gr_centrality_err", "gr_louvain_agree", "ops_graph_ingest",
      "an_explorer_page_mc",
      // r17: the tuning panel (shares the probe BFS detail — flat like
      // the error gate), the four-partition quality panel (|E|-stream
      // joins + community-cardinality aggregates per method), the
      // token-count NB train/score pass, and the triple-labeler
      // sensitivity pass
      "gr_centrality_tuning", "gr_community_quality", "sent_nb_eval",
      "sent_lexicon_sens",
      // r18: the weighted probe details ride gr_centrality_err (flat by
      // construction); new surfaces are the banded perceptual-hash
      // pairing (bucket-capped like dd_simhash), the vocab-sized BPE
      // learner + its corpus token join (twice: the encode report and
      // the subword-priced packing), and the labels-sized retrain gate
      // over the shared drift means
      "mm_phash_dup", "tx_bpe_encode", "etl_pack_bpe", "ops_retrain_gate",
      // the composed day gate: fixed maintenance latency + the three
      // ingest paths — the trend must show fixed-cost, not data-scaling
      "ops_day",
      // r19: the 32-round shared-prefix BPE depth panel (vocab-sized
      // rounds — the trend measures vocab growth, not corpus growth),
      // and the perceptual cluster/canonical/split funnel (components
      // over the banded pair relation + member-only decode)
      "tx_bpe_tuning", "mm_phash_clusters",
      // the appended-vector-store probe gate (frozen fit + publish/
      // append/serve + the bounded top-k probe) and the composed
      // seven-day arc (fixed maintenance latency + data-linear ingest)
      "sim_ivf_append", "ops_week")
    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    names.filter(n => only.forall(_.contains(n))).foreach { n =>
      val a = time(n, src)
      val b = time(n, out)
      println(f"SCALETREND $n%-24s base=$a%6.2f x$factor=$b%6.2f ratio=${b / a}%5.2f")
    }
    spark.stop()
  }
}
