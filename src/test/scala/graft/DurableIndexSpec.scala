package graft

import org.apache.spark.sql.functions._

/** Cross-session durability of the train-once artifacts (r12 verdict
  * item 1): the k-means model, the LSH signature store, and the graph
  * edge relations are published as bucketed tables
  * ([[graft.sources.IndexStore]]) in one session and SERVED in a fresh
  * one — fresh session state, fresh MatStore, catalog entries dropped so
  * registration must come from the on-disk sidecars (the one thing the
  * two sessions necessarily share in a single test JVM is the
  * SparkContext). Serve results must hash-match the in-session build,
  * and the serve plans must read the bucketed layout exchange-free on
  * the bucket key.
  */
class DurableIndexSpec extends GraftSuite {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("publish in one session, serve bit-identical and exchange-free in a fresh one") {
    val store = java.nio.file.Files.createTempDirectory("graft_idx").toString
    // in-session baselines (this session serves no store, so these BUILD)
    val baseIvf = rowsOf(run("sim_ivf_kmeans_topk"))
    val baseInc = rowsOf(run("dd_incremental"))
    val basePr = rowsOf(run("gr_pagerank"))
    val baseLv = rowsOf(run("gr_louvain"))
    val baseLvMl = rowsOf(run("gr_louvain_ml"))

    val keys = sources.IndexStore.publishCorpus(spark, store, sfDir)
    assert(keys.size === 6)
    // drop every catalog entry: the serving session must re-register
    // from the filesystem sidecars alone (external tables — data stays)
    keys.foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(k)}"))

    val s2 = spark.newSession()
    s2.conf.set(sources.IndexStore.DirConf, store)
    try {
      // the serve path is actually the bucketed table, not a rebuild
      val af = operators.Similarity.kmAssign(s2, sfDir)
      val afPlan = planOf(af)
      assert(afPlan.contains("graft_idx_sim_km_af"),
        s"kmAssign must serve from the published table:\n$afPlan")
      // same-key aggregation over the served node-bucketed relation
      // plans NO exchange — the bucketed layout replaces the
      // in-session repartition cache
      val und = operators.GraphOps.sharedUnd(s2, sfDir)
      val aggPlan = planOf(und.groupBy("node").agg(sum("weight")))
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"bucket-key aggregation over the served relation must not shuffle:\n$aggPlan")
      // same-key self-join of the served relation: no exchange either side
      val l = s2.table(sources.IndexStore.tableName(s"gr_und_w:$sfDir"))
      val r = s2.table(sources.IndexStore.tableName(s"gr_und_w:$sfDir"))
        .select(col("node"), col("weight").as("w2"))
      val joinPlan = planOf(l.join(r, "node"))
      assert(!joinPlan.contains("Exchange hashpartitioning"),
        s"bucket-key self-join of the served relation must not shuffle:\n$joinPlan")

      // served results hash-match the in-session path
      assert(rowsOf(Registry.byName("sim_ivf_kmeans_topk").run(s2, sfDir)) === baseIvf)
      assert(rowsOf(Registry.byName("dd_incremental").run(s2, sfDir)) === baseInc)
      assert(rowsOf(Registry.byName("gr_pagerank").run(s2, sfDir)) === basePr)
      // the r15 level-1 sweep artifact: the serving session reads the
      // converged labels instead of re-running the sweeps, and both
      // Louvain queries (telemetry included) hash-match the building session
      assert(rowsOf(Registry.byName("gr_louvain").run(s2, sfDir)) === baseLv)
      assert(rowsOf(Registry.byName("gr_louvain_ml").run(s2, sfDir)) === baseLvMl)
    } finally {
      MatStore.clear(s2)
      keys.foreach(k =>
        s2.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(k)}"))
    }
  }

  test("published store + batch APPEND: a fresh session probes base+batch signatures") {
    val store = java.nio.file.Files.createTempDirectory("graft_idx_app").toString
    val key = s"dd_bands:$sfDir"
    // baseline: the in-session full build (key not published yet)
    val base = rowsOf(run("dd_incremental"))
    // the daily-ingest maintenance path: the BASE corpus signatures are
    // published once; the arriving batch's signatures are APPENDED —
    // nobody ever rebuilds the base
    val bands = operators.Dedup.minhashBands(spark, sfDir)
    val split = operators.Dedup.IncSplit
    sources.IndexStore.publish(spark, store, key,
      bands.filter(col("doc_id") < split), "bkey")
    sources.IndexStore.append(spark, store, key,
      bands.filter(col("doc_id") >= split))
    // force sidecar re-registration in the serving session
    spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    val s2 = spark.newSession()
    s2.conf.set(sources.IndexStore.DirConf, store)
    try {
      assert(sources.IndexStore.tryServe(s2, key).isDefined,
        "the appended artifact must serve in a fresh session")
      // the per-ingest probe shape — batch signatures joined against
      // base signatures on (band, bkey) — reads the bkey-bucketed
      // store CO-LOCATED: no exchange on either side
      val t = sources.IndexStore.tableName(key)
      val bb = s2.table(t).filter(col("doc_id") >= split)
        .select(col("doc_id").as("b_id"), col("band"), col("bkey"))
      val ba = s2.table(t).filter(col("doc_id") < split)
        .select(col("doc_id").as("base_id"), col("band"), col("bkey"))
      val probePlan = planOf(bb.join(ba, Seq("band", "bkey")))
      assert(!probePlan.contains("Exchange hashpartitioning"),
        s"the served signature probe join must not shuffle:\n$probePlan")
      val got = rowsOf(Registry.byName("dd_incremental").run(s2, sfDir))
      assert(got === base,
        "probing the published-base + appended-batch store must match the in-session build")
    } finally {
      MatStore.clear(s2)
      s2.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("bucket-aware compaction: one file per bucket, rows identical, serve plan still exchange-free") {
    // r13 verdict item 4: append grows one file set per bucket and
    // weakens the per-bucket sort; CorpusIO.compactFiles' coalesce would
    // strip the bucket naming entirely. IndexStore.compact must restore
    // one-file-per-bucket WITHOUT losing the bucketed layout.
    val store = java.nio.file.Files.createTempDirectory("graft_idx_cmp").toString
    val key = s"gr_edges_num:$sfDir"
    val e = operators.GraphOps.edgesNum(spark, sfDir)
    sources.IndexStore.publish(spark, store, key, e, "src")
    // two appends (disjoint halves re-appended) → 3 file sets per bucket
    sources.IndexStore.append(spark, store, key, e.filter(col("src") % 4 === 0))
    sources.IndexStore.append(spark, store, key, e.filter(col("src") % 4 === 2))
    spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    val s2 = spark.newSession()
    s2.conf.set(sources.IndexStore.DirConf, store)
    try {
      val t = sources.IndexStore.tableName(key)
      val before = rowsOf(sources.IndexStore.tryServe(s2, key).get)
      val (nBefore, nAfter) = sources.IndexStore.compact(s2, store, key)
      assert(nBefore > 8, s"appends should leave multi-file buckets, saw $nBefore")
      assert(nAfter === 8, s"compaction must leave exactly one file per bucket, saw $nAfter")
      // rows bit-identical through the rewrite (duplicates from the
      // re-appends included — compaction is I/O repair, never dedup)
      val served = sources.IndexStore.tryServe(s2, key).get
      assert(rowsOf(served) === before)
      // the layout is still bucketed: a self-join on the bucket key
      // plans no exchange
      val l = s2.table(t).select(col("src"), col("weight").as("wl"))
      val r = s2.table(t).select(col("src"), col("weight").as("wr"))
      val plan = planOf(l.join(r, "src"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"compacted table lost its bucketed layout:\n$plan")
    } finally {
      MatStore.clear(s2)
      s2.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("store lifecycle gate: publish→append→compact→serve equals the fresh build, _old retired") {
    // r14 verdict item 3: the composed maintenance arc as one query. The
    // oracled gate (ops_store_lifecycle) proves hash equality against
    // the fresh full build via CORRECTNESS; this spec asserts the same
    // in-JVM plus the lifecycle hygiene the oracle cannot see: the
    // post-compact serve plan is still exchange-free on the bucket key
    // and the blue/green `_old` directory is retired.
    val out = rowsOf(run("ops_store_lifecycle"))
    val fresh = rowsOf(run("dd_minhash_lsh"))
    assert(out === fresh, "lifecycle store candidates must equal the fresh build")
    val store = operators.Ops.workspaceOf(spark, sfDir, "store_lc")
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(root).map(_.getPath.getName).toSeq
    assert(!names.exists(_.endsWith("_old")),
      s"the compaction swap must retire _old: $names")
    assert(!names.exists(_.endsWith("_compacting")),
      s"the compaction swap must retire the side copy: $names")
    // exactly one file per bucket after the compact (8 data files)
    val key = s"lc_bands:$sfDir"
    val t = sources.IndexStore.tableName(key)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$t"))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    assert(dataFiles === 8, s"expected one file per bucket, saw $dataFiles")
    // the served table kept its bucketed layout through the lifecycle:
    // a self-join on the bucket key plans no exchange
    val l = spark.table(t).select(col("bkey"), col("doc_id").as("da"))
    val r = spark.table(t).select(col("bkey"), col("doc_id").as("db"))
    val plan = planOf(l.join(r, "bkey"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"post-lifecycle table lost its bucketed layout:\n$plan")
  }

  test("workspace release: a stopped context's arc roots are deleted, and the arc runs again") {
    // every Ops.workspace root is registered with its context, and the
    // context's onApplicationEnd listener releases them; the release is
    // called directly here, since stopping the suite's context would end
    // the suite
    val first = rowsOf(run("ops_store_lifecycle"))
    val root = new org.apache.hadoop.fs.Path(
      operators.Ops.workspaceOf(spark, sfDir, "store_lc"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(root), s"the arc left no workspace at $root")
    operators.Ops.releaseWorkspaces(spark.sparkContext)
    assert(!fs.exists(root), s"the release left $root behind")
    assert(rowsOf(run("ops_store_lifecycle")) === first,
      "the arc must run again after its workspace was released")
    assert(fs.exists(root), s"the re-run recreated no workspace at $root")
  }

  test("a lifecycle gate re-run in the same session re-executes its arc") {
    // every run of ops_store_lifecycle publishes, appends, compacts and
    // serves again: with the store deleted between two runs, the second
    // run must recreate it (a memoized result would leave it deleted)
    val first = rowsOf(run("ops_store_lifecycle"))
    val store = new org.apache.hadoop.fs.Path(
      operators.Ops.workspaceOf(spark, sfDir, "store_lc"))
    val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(store, true), s"the first run left no store at $store")
    val second = rowsOf(run("ops_store_lifecycle"))
    val meta = new org.apache.hadoop.fs.Path(store,
      s"${sources.IndexStore.tableName(s"lc_bands:$sfDir")}/_graft_index.properties")
    assert(fs.exists(meta), s"the second run did not recreate the store at $store")
    assert(second === first, "the re-run's candidates differ from the first run's")
    assert(second === rowsOf(run("dd_minhash_lsh")),
      "the re-run's candidates differ from the fresh build")
  }

  test("serve refuses a stale artifact after its source corpus is rewritten; a sidecar key mismatch never serves") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_fp").toString
    val data = java.nio.file.Files.createTempDirectory("graft_idx_fp_data").toString
    val key = s"toy:$data"
    spark.conf.set(sources.IndexStore.DirConf, store)
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/t.parquet")
      sources.IndexStore.publish(spark, store, key,
        spark.read.parquet(s"$data/t.parquet"), "id", sourceDir = Some(data))
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      // unchanged source: serves
      assert(sources.IndexStore.tryServe(spark, key).isDefined)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      // a NEW file landing is the daily-ingest flow, not staleness: the
      // store must KEEP serving (manifestDiff schedules the arrival,
      // append lands its signatures) — treating an addition as a
      // rewrite would self-invalidate the store on its first
      // incremental day
      Seq((3L, "c")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/t2.parquet")
      assert(sources.IndexStore.tryServe(spark, key).isDefined,
        "an ADDED source file must not un-serve the store")
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      // but a file the artifact was TRAINED ON being rewritten in place
      // is real staleness → refuse, fall back to in-session rebuild
      Seq((1L, "REWRITTEN"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/t.parquet")
      assert(sources.IndexStore.tryServe(spark, key).isEmpty,
        "a stale artifact must not serve after a recorded source file changed")
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      // a VANISHED source dir must refuse gracefully (never throw):
      // refusal is safe — consumers rebuild in-session
      val fs0 = new org.apache.hadoop.fs.Path(data)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs0.delete(new org.apache.hadoop.fs.Path(data), true)
      assert(sources.IndexStore.tryServe(spark, key).isEmpty,
        "a missing source dir must refuse, not throw")
      // a sourceDir-published store whose SNAPSHOT sidecar is missing
      // (a crashed maintenance write — append's delete+rename window)
      // must REFUSE: serving without the staleness check is the failure
      // the snapshot exists to prevent (r15)
      val name = sources.IndexStore.tableName(key)
      val snapP = new org.apache.hadoop.fs.Path(s"$store/$name/_graft_source.snapshot")
      val fsSnap = snapP.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fsSnap.exists(snapP))
      fsSnap.delete(snapP, false)
      assert(sources.IndexStore.tryServe(spark, key).isEmpty,
        "a sourceDir-published store with no snapshot must refuse, not serve unchecked")
      // an old-layout/corrupted sidecar whose stored key disagrees with
      // the requested key must never serve another corpus's artifact
      val p = new org.apache.hadoop.fs.Path(s"$store/$name/_graft_index.properties")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val props = new java.util.Properties()
      val in = fs.open(p); try props.load(in) finally in.close()
      props.setProperty("key", "some_other_corpus")
      props.remove("fingerprint"); props.remove("sourceDir")
      val out = fs.create(p, true); try props.store(out, "tampered") finally out.close()
      assert(sources.IndexStore.tryServe(spark, key).isEmpty,
        "a sidecar holding a different key must not serve")
    } finally {
      spark.conf.unset(sources.IndexStore.DirConf)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("serve mode: the ingest arcs leave the session serving its configured store") {
    // an arc maintains its OWN store, named to every maintenance call;
    // the shared builds it reads must come from the store the session
    // serves, and must stay served for every later query
    val store = java.nio.file.Files.createTempDirectory("graft_idx_arcs").toString
    val keys = Seq(s"dd_bands:$sfDir", s"gr_edges_num:$sfDir")
    // published from a training session: this one serves no store yet
    sources.IndexStore.publish(spark, store, keys(0),
      operators.Dedup.minhashBands(spark, sfDir), "bkey", sourceDir = Some(sfDir))
    sources.IndexStore.publish(spark, store, keys(1),
      operators.GraphOps.edgesNum(spark, sfDir), "src", sourceDir = Some(sfDir))
    spark.conf.set(sources.IndexStore.DirConf, store)
    MatStore.clear(spark)
    try {
      run("ops_store_lifecycle").collect()
      run("ops_graph_ingest").collect()
      assert(spark.conf.get(sources.IndexStore.DirConf) === store,
        "an ingest arc changed the session's store setting")
      def readsStore(df: org.apache.spark.sql.DataFrame, key: String): Boolean =
        df.inputFiles.nonEmpty && df.inputFiles.forall(f =>
          f.contains(s"$store/${sources.IndexStore.tableName(key)}/"))
      assert(readsStore(operators.Dedup.minhashBands(spark, sfDir), keys(0)),
        "the signature memo was built in-session instead of served")
      assert(readsStore(operators.GraphOps.edgesNum(spark, sfDir), keys(1)),
        "the edge memo was built in-session instead of served")
    } finally {
      MatStore.clear(spark)
      spark.conf.unset(sources.IndexStore.DirConf)
      keys.foreach(k =>
        spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(k)}"))
    }
  }

  test("maintenance diagnostics: serve, append and compact say whether a key is unpublished or REFUSED") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_diag").toString
    val data = java.nio.file.Files.createTempDirectory("graft_idx_diag_data").toString
    val key = s"diag_toy:$data"
    val batch = Seq((3L, "c")).toDF("id", "v")
    try {
      def why(action: => Unit): String =
        intercept[IllegalStateException](action).getMessage
      for (msg <- Seq(why(sources.IndexStore.serve(spark, store, key)),
          why(sources.IndexStore.append(spark, store, key, batch))))
        assert(msg.contains(s"not published under $store"), msg)
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/t.parquet")
      sources.IndexStore.publish(spark, store, key,
        spark.read.parquet(s"$data/t.parquet"), "id", sourceDir = Some(data))
      assert(sources.IndexStore.serve(spark, store, key).count() === 2L)
      // a file the artifact was trained on is rewritten in place: the
      // key is published but stale, a different operator mistake
      Seq((1L, "REWRITTEN"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/t.parquet")
      for (msg <- Seq(why(sources.IndexStore.serve(spark, store, key)),
          why(sources.IndexStore.append(spark, store, key, batch)),
          why(sources.IndexStore.compact(spark, store, key)))) {
        assert(msg.contains("REFUSED") && msg.contains("STALE"), msg)
        assert(!msg.contains("not published"), msg)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("serve reads the store it names when another store holds the same key") {
    import spark.implicits._
    val a = java.nio.file.Files.createTempDirectory("graft_idx_alias_a").toString
    val b = java.nio.file.Files.createTempDirectory("graft_idx_alias_b").toString
    val key = "alias_toy"
    try {
      sources.IndexStore.publish(spark, a, key, Seq((1L, "a")).toDF("id", "v"), "id")
      // the later publish registers the session's table for the key at b
      sources.IndexStore.publish(spark, b, key,
        Seq((2L, "b"), (3L, "b")).toDF("id", "v"), "id")
      assert(rowsOf(sources.IndexStore.serve(spark, a, key)) === Seq("[1,a]"))
      assert(rowsOf(sources.IndexStore.serve(spark, b, key)) === Seq("[2,b]", "[3,b]"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("graph ingest gate: appended edge store equals the fresh build for pagerank AND communities") {
    // r16 (r15 verdict item 5): the daily edge-batch arc. The oracled
    // gate (ops_graph_ingest) proves publish→append→serve→PageRank
    // hash-equal to the full rebuild via CORRECTNESS; this spec asserts
    // the same in-JVM, extends the equality to the community labels
    // (the other iterative consumer the reference recomputes per
    // scrape), and checks the store hygiene the oracle cannot see.
    val freshPr = rowsOf(run("gr_pagerank"))
    val freshCm = rowsOf(run("gr_communities"))
    val gatePr = rowsOf(run("ops_graph_ingest"))
    assert(gatePr === freshPr,
      "pagerank over the appended store must equal the fresh build")
    // the served base+batch relation feeds label propagation too
    val store = operators.Ops.workspaceOf(spark, sfDir, "graph_ing")
    val key = s"gi_edges:$sfDir"
    val served = sources.IndexStore.serve(spark, store, key)
    val cm = operators.GraphOps.communities(
        operators.GraphOps.iterRelation(operators.GraphOps.undirected(served)))
      .select(operators.GraphOps.fmtNode(col("node")).as("node"),
        operators.GraphOps.fmtNode(col("community")).as("community"))
      .orderBy("node")
    assert(rowsOf(cm) === freshCm,
      "communities over the appended store must equal the fresh build")
    // the appended store kept its bucketed layout: a self-join on the
    // bucket key plans no exchange
    val t = sources.IndexStore.tableName(key)
    val l = spark.table(t).select(col("src"), col("weight").as("wl"))
    val r = spark.table(t).select(col("src"), col("weight").as("wr"))
    val plan = planOf(l.join(r, "src"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"appended edge store lost its bucketed layout:\n$plan")
    // base + batch really are both in the store (the append landed)
    val srcs = served.select(col("src")).distinct().collect()
      .map(_.getLong(0))
    assert(srcs.exists(_ % 8 == 0) && srcs.exists(_ % 8 != 0),
      "the served relation must carry base AND appended batch edges")
  }

  test("append: a checkpoint-backed batch must pass sourceFiles explicitly; the snapshot then covers the appended day") {
    import spark.implicits._
    import graft.Ckpt._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_ckpt").toString
    val data = java.nio.file.Files.createTempDirectory("graft_idx_ckpt_data").toString
    val key = s"ckpt_toy:$data"
    spark.conf.set(sources.IndexStore.DirConf, store)
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/day0.parquet")
      sources.IndexStore.publish(spark, store, key,
        spark.read.parquet(s"$data/day0.parquet"), "id", sourceDir = Some(data))
      // day 1 arrives, but the batch frame is CHECKPOINT-backed (the
      // MatStore .ckpt shape — e.g. the bands relation the lifecycle
      // gate appends): inputFiles is empty, so a silent append would
      // leave the appended day OUTSIDE the staleness snapshot — the
      // r14 guarantee no-oped exactly for these callers (r15 ADVICE).
      // The append must refuse loudly instead.
      Seq((3L, "c")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/day1.parquet")
      val batch = spark.read.parquet(s"$data/day1.parquet").ckpt
      batch.count() // materialize: inputFiles of a LogicalRDD is empty
      assert(batch.inputFiles.isEmpty, "precondition: ckpt frames report no inputFiles")
      val e = intercept[IllegalStateException] {
        sources.IndexStore.append(spark, store, key, batch)
      }
      assert(e.getMessage.contains("sourceFiles"))
      // a TYPO'D sourceFiles entry (resolves under the sourceDir but
      // matches no visible file) must also refuse — it would land the
      // batch with zero staleness coverage (r16 review)
      val e2 = intercept[IllegalStateException] {
        sources.IndexStore.append(spark, store, key, batch,
          sourceFiles = Seq("day1.parqet"))
      }
      assert(e2.getMessage.contains("NO visible parquet file"))
      // with the batch's source paths passed explicitly, the append
      // lands AND the snapshot covers the new day
      sources.IndexStore.append(spark, store, key, batch,
        sourceFiles = Seq("day1.parquet"))
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      assert(sources.IndexStore.tryServe(spark, key).get.count() === 3)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      // rewrite the APPENDED day's source in place: the store must now
      // refuse — the snapshot really does cover the appended files
      Seq((3L, "REWRITTEN")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$data/day1.parquet")
      assert(sources.IndexStore.tryServe(spark, key).isEmpty,
        "the staleness snapshot must cover the explicitly-listed appended day")
    } finally {
      spark.conf.unset(sources.IndexStore.DirConf)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("compact invalidates only store-DERIVED memos; unrelated warm builds survive") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_scope").toString
    val key = s"scope_toy:$store"
    try {
      sources.IndexStore.publish(spark, store, key,
        Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), "id")
      // an UNRELATED memo (no serve in its build) and a store-DERIVED
      // one (its build reads the served table)
      var unrelatedBuilds = 0
      var derivedBuilds = 0
      def unrelated = MatStore.of(spark, "scope_unrelated") {
        unrelatedBuilds += 1
        Seq((9L, 9L)).toDF("a", "b")
      }
      def derived = MatStore.of(spark, s"scope_derived") {
        derivedBuilds += 1
        sources.IndexStore.serve(spark, store, key).filter(col("id") > 0)
      }
      unrelated.count(); derived.count()
      assert(unrelatedBuilds === 1 && derivedBuilds === 1)
      // a memo derived from a DIFFERENT store directory must also
      // survive this store's compact (r16 review: the taint is keyed
      // per store dir — the graph-ingest and lifecycle gates each
      // maintain their own store, and compacting one must not cost the
      // other its served artifacts)
      val store2 = java.nio.file.Files.createTempDirectory("graft_idx_scope2").toString
      val key2 = s"scope_toy2:$store2"
      var otherStoreBuilds = 0
      sources.IndexStore.publish(spark, store2, key2,
        Seq((7L, 70L)).toDF("id", "v"), "id")
      def otherStore = MatStore.of(spark, "scope_other_store") {
        otherStoreBuilds += 1
        sources.IndexStore.serve(spark, store2, key2).filter(col("id") > 0)
      }
      otherStore.count()
      assert(otherStoreBuilds === 1)
      // compact runs mid-session (the lifecycle gate's shape): scoped
      // invalidation (r15 ADVICE) must drop ONLY the derived memo
      sources.IndexStore.compact(spark, store, key)
      unrelated.count(); derived.count()
      assert(unrelatedBuilds === 1,
        "compact must not discard unrelated warm builds")
      assert(derivedBuilds === 2,
        "compact must invalidate memos whose plans read the swapped store files")
      otherStore.count()
      assert(otherStoreBuilds === 1,
        "compacting one store must not invalidate memos served from another")
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key2)}")
    } finally {
      MatStore.clear(spark)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("compact drops a memo whose build served the store on another thread") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_thread").toString
    val store2 = java.nio.file.Files.createTempDirectory("graft_idx_thread2").toString
    val key = s"thread_toy:$store"
    val key2 = s"thread_toy2:$store2"
    try {
      sources.IndexStore.publish(spark, store, key,
        Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), "id")
      sources.IndexStore.publish(spark, store2, key2, Seq((7L, 70L)).toDF("id", "v"), "id")
      // each serve runs on a pool thread; only the plan links the memo
      // built on this thread to its store
      val builds = scala.collection.mutable.Map("derived" -> 0, "other" -> 0)
      def servedElsewhere(name: String, st: String, k: String) = MatStore.of(spark, name) {
        builds(name) += 1
        Await.result(Future(sources.IndexStore.serve(spark, st, k)), 1.minute)
          .filter(col("id") > 0)
      }
      def derived = servedElsewhere("derived", store, key)
      def other = servedElsewhere("other", store2, key2)
      assert(derived.count() === 2 && other.count() === 1)
      sources.IndexStore.compact(spark, store, key)
      assert(derived.count() === 2 && other.count() === 1)
      assert(builds("derived") === 2,
        "compact must invalidate a memo whose plan reads the store, whatever thread served it")
      assert(builds("other") === 1, "a memo over another store must survive")
    } finally {
      MatStore.clear(spark)
      Seq(key, key2).foreach(k =>
        spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(k)}"))
    }
  }

  test("compact drops a memo derived from a query-local checkpoint of a served scan") {
    import spark.implicits._
    import Ckpt._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_ckpt").toString
    val key = s"ckpt_toy:$store"
    try {
      sources.IndexStore.publish(spark, store, key,
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), "id")
      // the memo's plan is a checkpoint of a plan over another
      // checkpoint: neither names a file, both records do
      var builds = 0
      def derived = MatStore.of(spark, "ckpt_derived") {
        builds += 1
        sources.IndexStore.serve(spark, store, key).filter(col("id") > 1).ckpt
          .groupBy().agg(sum(col("v")).as("v"))
      }
      assert(derived.head().getLong(0) === 50L && builds === 1)
      sources.IndexStore.compact(spark, store, key)
      assert(derived.head().getLong(0) === 50L)
      assert(builds === 2,
        "compact must invalidate a memo that reads the store through a checkpoint")
    } finally {
      MatStore.clear(spark)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("every maintenance action bumps the publish-generation version token") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_ver").toString
    val key = s"ver_toy:$store"
    spark.conf.set(sources.IndexStore.DirConf, store)
    try {
      assert(sources.IndexStore.metaVersion(spark, key).isEmpty)
      sources.IndexStore.publish(spark, store, key, Seq((1L, "a")).toDF("id", "v"), "id")
      val v1 = sources.IndexStore.metaVersion(spark, key)
      assert(v1.nonEmpty)
      // append and compact must each write a FRESH token: cached
      // consumers (the streaming enrichment leg) revalidate on it, and
      // an mtime comparison would miss a maintenance action landing in
      // the same filesystem-timestamp second (r15 ADVICE)
      sources.IndexStore.append(spark, store, key, Seq((2L, "b")).toDF("id", "v"))
      val v2 = sources.IndexStore.metaVersion(spark, key)
      assert(v2.nonEmpty && v2 != v1, "append must bump the version")
      sources.IndexStore.compact(spark, store, key)
      val v3 = sources.IndexStore.metaVersion(spark, key)
      assert(v3.nonEmpty && v3 != v2, "compact must bump the version")
      // same-second republish still reads as changed
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
      sources.IndexStore.publish(spark, store, key, Seq((9L, "z")).toDF("id", "v"), "id")
      val v4 = sources.IndexStore.metaVersion(spark, key)
      assert(v4.nonEmpty && v4 != v3, "republish must bump the version")
    } finally {
      MatStore.clear(spark)
      spark.conf.unset(sources.IndexStore.DirConf)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("publish refuses a self-overwrite from a serving session") {
    val store = java.nio.file.Files.createTempDirectory("graft_idx_guard").toString
    val key = s"gr_edges_num:$sfDir"
    sources.IndexStore.publish(spark, store, key,
      operators.GraphOps.edgesNum(spark, sfDir), "src")
    spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    // a SERVING session re-publishing the key would overwrite the
    // table from a plan that reads it — must refuse loudly, not
    // corrupt the store
    val s3 = spark.newSession()
    s3.conf.set(sources.IndexStore.DirConf, store)
    try {
      val served = sources.IndexStore.tryServe(s3, key).get
      val e = intercept[IllegalStateException] {
        sources.IndexStore.publish(s3, store, key, served, "src")
      }
      assert(e.getMessage.contains("refusing to overwrite"))
      // the store survived the refusal intact
      assert(sources.IndexStore.tryServe(s3, key).get.count() > 0)
    } finally {
      MatStore.clear(s3)
      s3.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("publish refuses a self-overwrite from a checkpoint of the served table") {
    import spark.implicits._
    import Ckpt._
    val store = java.nio.file.Files.createTempDirectory("graft_idx_guard_ckpt").toString
    val key = s"guard_toy:$store"
    try {
      sources.IndexStore.publish(spark, store, key,
        Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), "id")
      // a lazy checkpoint lists no input files, yet the write would
      // still read the table it overwrites
      val retrained = sources.IndexStore.serve(spark, store, key)
        .select(col("id"), (col("v") + 1).as("v")).ckpt
      assert(retrained.inputFiles.isEmpty)
      val e = intercept[IllegalStateException] {
        sources.IndexStore.publish(spark, store, key, retrained, "id")
      }
      assert(e.getMessage.contains("refusing to overwrite"))
      assert(rowsOf(sources.IndexStore.serve(spark, store, key)) === Seq("[1,10]", "[2,20]"))
    } finally {
      MatStore.clear(spark)
      spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(key)}")
    }
  }

  test("ops_retrain_gate: a drifted or oversized batch flips the decision; an aligned batch serves") {
    import spark.implicits._
    import operators.{Ops, Similarity}
    // planted embeddings: base (ids < 100) points along +e1 with small
    // e2 jitter; three batch shapes against it
    def vec(x: Double, y: Double) = Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    def rows(ids: Range, f: Int => Seq[Float], label: Int) =
      ids.map(i => (i.toLong, label, f(i)))
    val base = rows(0 until 100, i => vec(1.0, if (i % 2 == 0) 0.1 else -0.1), 1)
    def gateOn(batch: Seq[(Long, Int, Seq[Float])]): (Map[Int, String], String) = {
      val emb = (base ++ batch).toDF("vec_id", "label", "embedding")
      val drift = Similarity.centroidDriftOver(Similarity.explOf(emb), emb, 100L)
      val r = Ops.retrainDecision(drift).collect()
      (r.map(x => x.getAs[Int]("label") -> x.getAs[String]("reason")).toMap,
        r.head.getAs[String]("overall_decision"))
    }
    // aligned small batch: same +e1 direction, 20% share -> serve
    val aligned = rows(100 until 125, i => vec(1.0, if (i % 2 == 0) 0.1 else -0.1), 1)
    assert(gateOn(aligned) === ((Map(1 -> "within_thresholds"), "serve")))
    // drifted batch: rotated to +e2, same size -> centroid_drift retrain
    val drifted = rows(100 until 125, i => vec(0.1, 1.0), 1)
    val (rD, oD) = gateOn(drifted)
    assert(rD(1) === "centroid_drift" && oD === "retrain")
    // aligned but OVERSIZED batch (> 30% of post-append corpus):
    // batch_share retrain — the precedence puts centroid_drift first,
    // so alignment must hold for the share reason to surface
    val oversized = rows(100 until 200, i => vec(1.0, if (i % 2 == 0) 0.1 else -0.1), 1)
    val (rS, oS) = gateOn(oversized)
    assert(rS(1) === "batch_share" && oS === "retrain")
    // batch introducing a label the base has NEVER seen (the r18-review
    // blind spot: an inner label join would silently drop it and serve)
    // -> its row survives the outer label frame with no centroid pair,
    // reason new_label, overall retrain — while label 1 still serves
    val withNew = aligned ++ rows(200 until 215, i => vec(0.5, 0.5), 2)
    val (rN, oN) = gateOn(withNew)
    assert(rN === Map(1 -> "within_thresholds", 2 -> "new_label") &&
      oN === "retrain", s"batch-only label must force retrain: $rN")
    // both branches of the composed day's k-means ACTION (the serve
    // branch is dead on this corpus — the gate always measures drift —
    // and an untested dead branch in a composed gate is where a latent
    // wiring bug hides): serve republishes the day-0 artifact under the
    // serving key byte-equal; retrain serves the full refit
    val store = java.nio.file.Files.createTempDirectory("graft_daykm").toString
    val keys = Seq("spec_day_km0", "spec_day_kmaf0", "spec_day_km_serve",
      "spec_day_km_rt", "spec_day_kmaf_rt")
    try {
      val emb = (rows(0 until 40, i => vec(1.0 + i % 3, 0.1 * (i % 5)), 1) ++
        rows(40 until 60, i => vec(0.2, 1.0 + i % 2), 1))
        .toDF("vec_id", "label", "embedding")
      val base = emb.filter($"vec_id" < 40)
      val arrivals = emb.filter($"vec_id" >= 40)
      sources.IndexStore.publish(spark, store, "spec_day_km0",
        Similarity.kmeansFitOver(base), "cell")
      val cents0 = sources.IndexStore.serve(spark, store, "spec_day_km0")
      sources.IndexStore.publish(spark, store, "spec_day_kmaf0",
        Similarity.kmAssignRowsOf(base, cents0), "cell")
      def cents(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("cell") -> r.getAs[Seq[Double]]("c"))
        .sortBy(_._1).toSeq
      def assignOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell"))
        .sortBy(_._1).toSeq
      def probeOf(assign: org.apache.spark.sql.DataFrame,
          cs: org.apache.spark.sql.DataFrame) =
        Similarity.ivfProbeOver(emb, assign, cs).collect()
          .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSeq
      val (served0, assign0) = Ops.dayKmAction(spark, store, retrain = false,
        emb, arrivals, "spec_day_km0", "spec_day_km_serve",
        "spec_day_kmaf0", "spec_day_kmaf_rt")
      assert(cents(served0) === cents(Similarity.kmeansFitOver(base)),
        "serve must republish the day-0 centroids unchanged")
      // the serve branch must APPEND the arrivals under the frozen
      // centroids (pre-r19 it dropped the day's vectors): the served
      // assignment equals a full rebuild with frozen centroids...
      assert(assignOf(assign0) ===
        assignOf(Similarity.kmAssignRowsOf(emb, served0)),
        "serve must land base + arrivals in the assignment store")
      // ...and the ANN probe over the appended store is row-identical
      // to the probe over that rebuild (the sim_ivf_append equality,
      // driven through the composed day action)
      assert(probeOf(assign0, served0) ===
        probeOf(Similarity.kmAssignRowsOf(emb, served0), served0),
        "appended-store probe must equal the frozen-centroid rebuild")
      val (served1, assign1) = Ops.dayKmAction(spark, store, retrain = true,
        emb, arrivals, "spec_day_km0", "spec_day_km_rt",
        "spec_day_kmaf0", "spec_day_kmaf_rt")
      assert(cents(served1) === cents(Similarity.kmeansFitOver(emb)),
        "retrain must serve the full refit")
      assert(cents(served1) != cents(served0),
        "the planted batch must move the centroids")
      assert(assignOf(assign1) ===
        assignOf(Similarity.kmAssignRowsOf(emb, served1)),
        "retrain must publish the full reassignment")
      // blue/green: the retrain wrote its OWN assignment table; the
      // day-0+append store is intact for rollback
      assert(assignOf(sources.IndexStore.serve(spark, store, "spec_day_kmaf0"))
        === assignOf(assign0))
    } finally {
      keys.foreach(k =>
        spark.sql(s"DROP TABLE IF EXISTS ${sources.IndexStore.tableName(k)}"))
    }
    // corpus gate: every label drifts on this corpus (measured cos ~ 0,
    // the synthetic batch is uncorrelated with the base) -> overall
    // retrain, consistent with sim_centroid_drift's published rows
    val corpus = run("ops_retrain_gate").collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(_.getAs[String]("overall_decision") === "retrain"))
    val monitor = run("sim_centroid_drift").collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("centroid_cos")).toMap
    corpus.foreach { r =>
      assert(r.getAs[Double]("centroid_cos") === monitor(r.getAs[Int]("label")),
        "gate and monitor must read the same drift")
    }
  }

  test("ops_week: seven-day arc — digests, flat store layout, retention purge, gate flip") {
    import operators.{Dedup, Ops}
    val rows = run("ops_week").collect()
    val byComp = rows.map(r => r.getAs[String]("component") -> r).toMap
    assert(rows.length === 8 && byComp.size === 8)
    assert(byComp("decisions").getAs[Long]("n_rows") >= 2L)
    // ---- file-count / store-size telemetry: compaction (days 3 and 6)
    // and the day-7 blue/green purge hold the layout flat
    val store = s"${Ops.workspaceOf(spark, sfDir, "ops_week")}/store"
    def dataFiles(key: String): Seq[java.io.File] = {
      val d = new java.io.File(s"$store/${sources.IndexStore.tableName(key)}")
      assert(d.isDirectory, s"store dir missing for $key")
      d.listFiles().toSeq.filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    val bands = dataFiles(s"week_bands:$sfDir")
    // day-6 compact restored 1 file/bucket; only day 7's append landed
    // since -> at most two file sets across 8 buckets
    assert(bands.length <= 16,
      s"unpurged signature store grew past two file sets: ${bands.length}")
    val purged = dataFiles(s"week_bands_r:$sfDir")
    assert(purged.length <= 8,
      s"purged store must be one fresh bucketed file set: ${purged.length}")
    // the purge dropped day-1 docs' bands: strictly smaller payload
    assert(purged.map(_.length).sum < bands.map(_.length).sum,
      "retention purge must shrink the store")
    // purged store content: no band row of a day-1 (purged) doc remains
    val leftover = spark.read.parquet(
        s"$store/${sources.IndexStore.tableName(s"week_bands_r:$sfDir")}")
      .filter(col("doc_id") >= Dedup.IncSplit &&
        pmod(col("doc_id"), lit(7L)) === 0L)
      .count()
    assert(leftover === 0L, s"purged store still holds $leftover day-1 band rows")
    // the gate flipped inside the week: day 1 served, day 2 retrained —
    // re-derive the two days' decision digests from the corpus side
    // (the query's require() already asserted the flip; this pins it in
    // the artifact the spec can read)
    // the serve day APPENDED the aligned arrivals (vec_id ≥ 100000) into
    // the day-0 assignment store — base rows intact beside them
    val kmaf = spark.read.parquet(
      s"$store/${sources.IndexStore.tableName(s"week_kmaf:$sfDir")}")
    assert(kmaf.filter(col("vec_id") >= 100000L).count() >= 3L,
      "the serve day must have APPENDED the aligned batch's assignments")
    assert(kmaf.filter(col("vec_id") < 450L).count() === 450L,
      "the append must leave the base assignment intact")
    val rtStore = dataFiles(s"week_kmaf_rt:$sfDir")
    assert(rtStore.nonEmpty, "the retrain day must have published the refit assignment")
  }
}
