package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plan-shape guards for the 100 TB broadcast discipline (r9 verdict
  * item 1): no query may hard-code a broadcast of a DATA-SCALING
  * relation (per-user, per-node, per-term, customer/supplier). With
  * `spark.graft.stateBroadcast=false` (the non-broadcast knob) and the
  * auto-broadcast threshold disabled, the static physical plan of each
  * previously-flagged query must contain broadcast exchanges ONLY for
  * relations whose cardinality is constant in the data size (1-row
  * scalar aggregates, per-cohort-week / per-nation rows). The counts
  * below enumerate exactly those allowed broadcasts per query.
  *
  * The STATIC (initial, pre-AQE) plan is asserted deliberately: AQE may
  * still DOWNGRADE a shuffle join to a runtime broadcast when the
  * measured size is small — that is the size-driven behavior we want,
  * not a hard-coded plan — so the guard checks what the planner commits
  * to before runtime sizes are known (via the formatted-plan text, see
  * [[nBroadcasts]]).
  */
class ScalePlanSpec extends GraftSuite {

  /** Count BroadcastExchange nodes in the STATIC plan from the formatted
    * text. Collecting on `sparkPlan` is a silent no-op under AQE — the
    * AdaptiveSparkPlanExec wrapper exposes no children, so a node-collect
    * reads 0 for every query and the guard asserts nothing (found late
    * r10); the initial-plan section of explain("formatted") is the real
    * pre-runtime commitment.
    */
  private def nBroadcasts(df: DataFrame): Int =
    planOf(df).split("== Initial Plan ==").last
      .linesIterator.count(_.matches(""".*[+:]- BroadcastExchange.*"""))

  /** Run `body` with the state-broadcast knob off and auto-broadcast
    * disabled, restoring both afterwards (suites run sequentially in
    * the forked test JVM, so the shared-session mutation is safe).
    */
  private def withKnobOff[T](body: => T): T = {
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.stateBroadcast", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.graft.stateBroadcast", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("knob off: no scaling-side BroadcastExchange in the r9-flagged queries") {
    withKnobOff {
      // allowed broadcasts are all constant-size: 1-row total-weight /
      // corpus-count aggregates, the per-cohort-week base, nation⋈region
      val allowed = Map(
        "gr_modularity" -> 1, // tw (1 row)
        "gr_louvain" -> 1, // w2 (1 row; sweeps are pre-executed actions)
        "an_retention" -> 1, // base (one row per cohort WEEK)
        "tx_keyterms" -> 1, // nd (1 row)
        "q3_top_orders" -> 0,
        "q5_region_revenue" -> 2, // region, nation⋈region (≤ 25 rows)
        "gr_kcore" -> 2, // ntot (1 row), K (1 row); keep-set joins size-driven
        "gr_assortativity" -> 1, // n_nodes (1 row); degree joins size-driven
        // late-r10 operators — every allowed broadcast is constant-size
        "dd_recall" -> 3, // n_true/n_cand/n_caught (1 row each)
        "q_bloom_prune" -> 3, // the ~67-word bitmap + two 1-row totals
        "gr_random_walks" -> 0, // walk state through stateJoin
        "sim_mmr_topk" -> 0, // pool-bounded relations, checkpointed
        "an_session_paths" -> 0,
        "an_pivot_daily" -> 0,
        "tx_langid_confusion" -> 1, // accuracy (1 row)
        "etl_weighted_sample" -> 1, // corpus token total (1 row)
        "an_concurrency" -> 0,
        "an_hist_quantiles" -> 0,
        "an_ab_test" -> 0,
        "etl_scd2" -> 0,
        // r11 additions (sim_mmr_topk above still holds for the fold)
        "etl_split_train_val" -> 0,
        "sent_examples" -> 0,
        "q_range_join" -> 0, // bin-keyed equi-joins only, both size-driven
        // r12 additions
        "an_forecast_naive" -> 0, // calendar-bounded self-join, size-driven
        "tx_char_diversity" -> 0, // two keyed aggregates, nothing joined
        "etl_mixture_schedule" -> 0, // prefix-sum joins size-driven
        "an_cm_topk" -> 1, // d·w-cell sketch (constant in the data size)
        "an_dow_anomaly" -> 0, // 7-row cohort join, size-driven
        "dd_est_quality" -> 0, // candidate-keyed joins, size-driven
        "dd_embedding_sweep" -> 1, // nv (1-row corpus count)
        "ops_freshness" -> 1, // hwm (1 row)
        "ops_infra_gate" -> 1, // composite go (1 row)
        "mm_decode_meta" -> 0, // in-partition decode, no join at all
        "dd_split_leakage" -> 0, // pair-relation enrichments, size-driven
        "etl_split_by_cluster" -> 1, // 1-row leak audit broadcast
        "sent_drift" -> 1, // label totals (1 row)
        // r14 additions: every weighted-centrality state join rides
        // stateJoin (frontier, candidate, σ, δ, DAG-side state) — with
        // the knob off nothing may broadcast
        "gr_closeness_w" -> 0,
        "gr_betweenness_w" -> 0,
        // r15 additions
        "gr_louvain_ml" -> 1, // w2 (1 row); contraction + coarse sweeps ride stateJoin
        "an_explorer_page" -> 1, // the 1-row page-1 cursor
        // r18 additions
        "mm_phash_dup" -> 0, // banded candidate + signature joins, all size-driven
        "tx_bpe_encode" -> 8, // one 1-row argmax-pair broadcast per merge round
        "etl_pack_bpe" -> 8, // same learner rounds; pack joins size-driven
        "ops_retrain_gate" -> 1 // the 1-row overall-decision broadcast
      )
      allowed.foreach { case (name, maxB) =>
        val df = run(name)
        val n = nBroadcasts(df)
        assert(n <= maxB,
          s"$name: $n BroadcastExchange nodes in the static plan, expected ≤ $maxB " +
            "— a data-scaling relation is being broadcast unconditionally")
      }
    }
  }

  test("knob off: kmeansFit commits only to K-row centroid broadcasts") {
    // sim_kmeans_train's own plan is truncated at the MatStore
    // checkpoint, so the census reads the FIT build directly. The only
    // broadcasts the static plan may commit to are the KmIters
    // per-round centroid relations (exactly KmCells = 8 rows each —
    // constant in the data size); the per-vector assignment join must
    // be a shuffle (the r10 verdict's last instance of the r9
    // unconditional-broadcast defect class).
    withKnobOff {
      val n = nBroadcasts(operators.Similarity.kmeansFit(spark, sfDir))
      assert(n <= operators.Similarity.KmIters,
        s"kmeansFit: $n BroadcastExchange nodes in the static plan, expected " +
          s"≤ ${operators.Similarity.KmIters} (one K-row centroid broadcast per round) " +
          "— the corpus-scaling assignment relation is being broadcast")
    }
  }

  test("knob off: dedup per-pair Jaccard verify plans no broadcast") {
    // dd_ngram_jaccard/dd_clusters verify path: the candidate pair set
    // and the token arrays it joins scale with corpus × dup rate (30-50%
    // on a real web crawl), so the static plan must not commit to a
    // driver-side broadcast build; AQE may still downgrade at runtime
    // when they are actually small. Censused pre-checkpoint (the
    // query-level plan is a LogicalRDD past the MatStore boundary).
    withKnobOff {
      val n = nBroadcasts(operators.Dedup.jaccardScoredBuild(spark, sfDir))
      assert(n == 0,
        s"jaccardScoredBuild: $n BroadcastExchange nodes in the static plan — " +
          "a pair or token relation is being broadcast unconditionally")
    }
  }

  test("sim_filtered_topk: the label predicate reaches the embeddings scan") {
    // Pre-filter design: the metadata predicate must be a PUSHED filter
    // on the embeddings parquet scan inside the probe build — if it
    // drifts above the cosine projection (post-filter), every ineligible
    // vector pays a cosine and selective filters silently return < k.
    // Censused pre-checkpoint (MatStore truncates the query-level plan).
    val plan = planOf(operators.Similarity.filteredRankedBuild(spark, sfDir))
    assert(plan.contains("PushedFilters") && plan.matches("(?s).*In\\(label, \\[2,7\\]\\).*"),
      s"label allowlist is not pushed to the embeddings scan:\n${plan.take(2000)}")
  }

  test("q_range_join: bin decomposition plans equi-joins, never a nested loop") {
    // An inequality-only join plans BroadcastNestedLoopJoin (or a
    // cartesian product) — O(|probe|·|build|) comparisons with one side
    // fully materialized per task. The bin decomposition must keep every
    // join in the plan a hash/merge EQUI-join at any threshold setting.
    Seq(true, false).foreach { knob =>
      val plan =
        if (knob) planOf(run("q_range_join"))
        else withKnobOff(planOf(run("q_range_join")))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"q_range_join (knob=$knob): plan fell back to a nested-loop join")
    }
  }

  test("knob off: gr_modularity matches the broadcast-path result") {
    val on = run("gr_modularity").collect()
    val off = withKnobOff { run("gr_modularity").collect() }
    assert(on.toSeq === off.toSeq, "shuffled-hash state path diverged from broadcast path")
  }

  test("knob off: gr_louvain matches the broadcast-path result") {
    // the level-1 sweep result is MatStore-memoized (gr_lv1) and the
    // checkpoint freezes whichever path built it — clear between the two
    // runs so the knob-off run genuinely re-executes the sweeps on the
    // shuffled-hash path instead of comparing the cache to itself
    MatStore.clear(spark)
    val on = run("gr_louvain").collect()
    MatStore.clear(spark)
    val off = withKnobOff { run("gr_louvain").collect() }
    assert(on.toSeq === off.toSeq, "shuffled-hash sweep path diverged from broadcast path")
  }

  test("knob off: gr_louvain_ml matches the broadcast-path result") {
    // r15: the multi-level chain adds the contraction joins and the
    // coarse-level sweeps — every one rides stateJoin, so the
    // shuffled-hash 100 TB path must produce the identical partition
    // (exact-integer gain argmax at every level). Same memo-clear
    // discipline as the single-level test above.
    MatStore.clear(spark)
    val on = run("gr_louvain_ml").collect()
    MatStore.clear(spark)
    val off = withKnobOff { run("gr_louvain_ml").collect() }
    assert(on.toSeq === off.toSeq, "multi-level shuffled-hash path diverged")
  }

  test("knob off: weighted centralities match the broadcast-path results") {
    // r14: every weighted-relaxation state join (frontier, candidate,
    // σ, δ, both DAG sides) rides stateJoin — the shuffled-hash 100 TB
    // path must produce BIT-identical distances/dependencies, since the
    // relax recurrences are exact integer/decimal arithmetic either way
    for (name <- Seq("gr_closeness_w", "gr_betweenness_w")) {
      val on = run(name).collect()
      val off = withKnobOff { run(name).collect() }
      assert(on.toSeq === off.toSeq, s"$name: shuffled-hash path diverged")
    }
  }

  test("full-output queries plan no global sort (no RangePartitioning exchange)") {
    // A global orderBy plans Exchange(RangePartitioning), whose range
    // boundaries come from a SAMPLING pass that re-executes the child —
    // a structural 2x on a narrow-map query (measured on etl_parse_json). Output
    // order is non-semantic for full-output enrichment tables (the
    // correctness gate canonicalizes row order), so these queries must
    // never pay it. Window-internal per-partition sorts are fine.
    val fullOutput = Seq(
      "etl_clean_text", "etl_filter_enrich", "etl_dedup_ingest",
      "etl_parse_json", "etl_sessionize", "etl_stratified_sample",
      "etl_corpus_prep", "etl_compact_latest",
      "tx_lang_id", "tx_quality", "tx_token_count",
      "tx_fingerprint", "tx_keyterms", "tx_repetition", "tx_boilerplate",
      "sent_lexicon", "sent_emoji", "mm_binary_meta", "q_window_rank",
      "q_asof_join", "q_point_in_time", "q_range_join",
      "an_user_activity", "an_spike_days", "an_active_streaks", "dd_exact",
      "etl_shard_shuffle", "etl_winsorize", "etl_relevance_gate",
      "st_funnel_join")
    fullOutput.foreach { name =>
      val plan = planOf(run(name)).toLowerCase
      assert(!plan.contains("rangepartitioning"),
        s"$name: plan contains a RangePartitioning exchange (global sort)")
    }
    // the pure narrow maps additionally plan ZERO exchanges — one
    // whole-stage codegen span over the scan
    Seq("etl_clean_text", "etl_filter_enrich", "etl_stratified_sample",
      "etl_chunk_overlap", "tx_gopher_rules", "etl_relevance_gate",
      "tx_lang_id", "tx_quality", "tx_token_count", "tx_fingerprint",
      "tx_repetition", "sent_lexicon", "sent_emoji", "mm_binary_meta",
      "mm_frame_index")
      .foreach { name =>
        val plan = planOf(run(name)).toLowerCase
        assert(!plan.contains("exchange"),
          s"$name: narrow-map query plans an exchange")
      }
  }

  test("etl_pack_sequences: two-level prefix sum matches a flat window on a skewed corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("packspec").toFile.getAbsolutePath
    // one dominant source (95% of docs) — the shape that killed the r9
    // single-window plan — plus a few minor shards, word counts varied
    // so windows fill at different rates and crossings occur
    val docs = (0 until 3000).map { i =>
      val src = if (i % 20 == 0) s"minor${i % 5}" else "dominant"
      val text = Seq.tabulate(1 + i % 13)(j => s"w$j").mkString(" ")
      (i.toLong, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val got = operators.Etl.packSequences.run(spark, tmp)

    // reference: the same packing computed with ONE flat window per
    // source (correct but unscalable) — results must be identical
    val flat = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val L = operators.Etl.PackSeqLen
    val expected = spark.read.parquet(s"$tmp/documents.parquet")
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("wc"))
      .withColumn("off", coalesce(sum($"wc").over(flat), lit(0L)))
      .select($"source", expr(s"off div $L").as("seq_id"), $"wc",
        (expr(s"(off + wc - 1) div $L") > expr(s"off div $L")).as("crossing"))
      .groupBy($"source", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"wc").as("n_tokens"),
        sum(when($"crossing", 1L).otherwise(0L)).as("n_crossing"))
      .orderBy($"source", $"seq_id")
    assert(got.collect().toSeq === expected.collect().toSeq)
    // sanity: the packing actually produced multi-window sources and
    // boundary-crossing docs on this corpus
    assert(got.filter($"seq_id" > 0).count() > 0)
    assert(got.agg(sum($"n_crossing")).head.getLong(0) > 0)

    // plan shape: both prefix levels present — the wide window runs per
    // (source, bkt) bucket, never one task per source
    val plan = planOf(got)
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(windowSpecs.exists(_.contains("bkt")),
      s"level-1 window is not bucketed:\n$plan")
    assert(windowSpecs.nonEmpty && windowSpecs.size >= 2,
      s"expected two window levels, got $windowSpecs")
  }
}
