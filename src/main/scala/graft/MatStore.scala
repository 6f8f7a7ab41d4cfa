package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Ckpt._

/** Session-scoped store of materialized intermediate relations (signature
  * tables, verified candidate pairs) keyed by (session, logical name).
  *
  * A dedup/ANN pipeline at 100 TB computes its signatures ONCE — minhash
  * bands, SRP band keys, verified near-dup pairs are written as tables and
  * every downstream consumer (candidate generation, exact verify, cluster
  * assignment, recall eval) reads the same materialization; recomputing the
  * full tokenize+hash scan per consumer would multiply the dominant cost of
  * the whole stage by the consumer count. This store is the single-JVM
  * twin of that signature table: first consumer builds and lazily
  * checkpoints the relation, later consumers reuse the blocks. The MinHash
  * signatures (`dd_mh_sigs`) are one full-corpus pass per session: the
  * band memo (`dd_bands`) projects them and the candidate pairs
  * (`dd_lsh_cand`) read the bands, so dd_minhash_lsh, dd_incremental,
  * dd_lsh_tuning, dd_est_quality, ops_incremental_gate and
  * ops_store_lifecycle share it, and dd_ngram_jaccard and dd_clusters
  * reuse the candidates; sim_recall reuses sim_lsh_topk's build. The BPE
  * vocabulary (`tx_bpe_vf`) feeds the learner of tx_bpe_encode,
  * etl_pack_bpe and tx_bpe_tuning, and the per-doc subword mass
  * (`tx_bpe_mass`) is shared by the first two.
  *
  * Grain rule: a memo holds document, vector, vocabulary or model rows,
  * never a per-token or per-coordinate stream. A stream is several times
  * the corpus in rows; a consumer re-derives it, as the oracle does, and
  * memoizes only what it aggregates to. The corpus token arrays are a
  * plan over the scan, read by the `dd_mh_sigs` build and the Jaccard
  * verifies; the embedding coordinates are exploded per read from
  * vector-grain memos (`sim_expl`, one row per vector, kept because
  * re-reading the parquet arrays measured slower than its blocks;
  * `sim_pq_sub`, one row per vector and subspace). Reader filter: a memo
  * keeps only rows some reader reads — a scored-pair memo is cut at the
  * lowest threshold its readers apply before it is checkpointed
  * (`dd_emb_scored`).
  *
  * Keyed on the session so a stopped session's plans are never reused
  * (same discipline as [[Tables]]); `spark.catalog.clearCache()`
  * does NOT drop these blocks — they are checkpoint RDDs, freed by the
  * ContextCleaner when the store entry (and thus the plan) is released.
  *
  * The durable twin is [[graft.sources.IndexStore]]: a key published in
  * the session's configured store is served from it instead of built,
  * and a memo may be built over any store's served scan. What a memo
  * depends on is read from its plan alone — file roots, and through
  * [[Ckpt]]'s record the roots behind each checkpoint — so when a
  * store's files are swapped [[clearStoreDerived]] drops exactly the
  * memos that read them, whichever thread built them.
  */
object MatStore {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Drop the session's memos whose plans read a file under `storeDir`
    * ([[org.apache.spark.sql.GraftRunAccess.inputRoots]]) — what
    * [[graft.sources.IndexStore.compact]] calls after it swaps that
    * store's files: a plan captures its file index when it is built, so
    * such a memo would read deleted files. Memos over other inputs,
    * another store's included, stay warm.
    */
  def clearStoreDerived(s: SparkSession, storeDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val under = root.getFileSystem(s.sessionState.newHadoopConf())
      .makeQualified(root).toString.stripSuffix("/") + "/"
    cache.forEach { (k, df) =>
      if ((k._1 eq s) &&
          org.apache.spark.sql.GraftRunAccess.inputRoots(df)
            .exists(r => (r + "/").startsWith(under)) &&
          cache.remove(k, df))
        try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }

  /** The memoized relation for `key`, building + lazily checkpointing it
    * on first use. `build` must be deterministic for the key: the same
    * (session, key) always denotes the same logical relation.
    *
    * When the durable store is configured and `key` is PUBLISHED there
    * ([[graft.sources.IndexStore]]), the bucketed table is served instead
    * of building — the cross-session train-once/serve-many path. A served
    * scan is NOT checkpointed: the bucketed layout already provides the
    * reuse (on-disk blocks) and, unlike a LogicalRDD, keeps its hash
    * partitioning visible to the planner.
    */
  def of(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    lookup(s, key)(build.ckpt)

  /** Like [[of]] but memoizes the lazy plan WITHOUT checkpointing it — for
    * a cheap narrow projection of another memo (the LSH band rows over
    * the MinHash signature table), so the session holds the blocks once
    * and each read re-derives the projection. A published key still
    * serves, exactly as through [[of]].
    */
  def view(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    lookup(s, key)(build)

  /** get-then-putIfAbsent instead of computeIfAbsent: store builds nest
    * (lshCandM → dd_mh_sigs, kmAssign → kmCents), and a nested
    * computeIfAbsent on the same ConcurrentHashMap throws "Recursive
    * update" whenever the inner insert lands in the bin the outer call
    * holds. The benign race (two threads building the same lazy plan,
    * loser discarded un-materialized) costs nothing.
    */
  private def lookup(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    if (!cache.isEmpty)
      cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val k = (s, key)
    val existing = cache.get(k)
    if (existing != null) existing
    else {
      // a key published in the session's store serves instead of building
      val built = graft.sources.IndexStore.tryServe(s, key).getOrElse(build)
      val prev = cache.putIfAbsent(k, built)
      if (prev != null) {
        // losing thread: discard the unused build. Memo-path builds
        // (iterRelation) persist() during plan CONSTRUCTION, so the
        // loser has already registered a CacheManager entry that would
        // otherwise leak until the next clearCache.
        try built.unpersist(blocking = false) catch { case _: Throwable => () }
        prev
      } else built
    }
  }

  /** Like [[of]] but memoizes `build` AS IS — for builds that carry their
    * own `persist()` (e.g. [[graft.operators.GraphOps.iterRelation]]'s
    * repartition+persist, whose cache keeps the HashPartitioning visible
    * to the planner where a checkpoint's LogicalRDD would not).
    *
    * `spark.catalog.clearCache()` (the bench runs it between queries)
    * UNREGISTERS a persisted plan — persist() is a one-time registration,
    * so without repair every later consumer would silently re-execute the
    * raw build per round. The accessor therefore re-persists whenever the
    * storage level has been reset: the next action re-materializes once
    * and the relation is cached again.
    */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    // a published key serves the bucketed table (already node-partitioned
    // on disk); the persist below then caches the scan with that
    // partitioning visible, exactly like the in-session repartition cache
    val df = lookup(s, key)(build)
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** The (key, relation) entries stored for `s`, in key order — for
    * footprint reports ([[graft.tools.Measure]]).
    */
  private[graft] def entries(s: SparkSession): Seq[(String, DataFrame)] = {
    import scala.jdk.CollectionConverters._
    cache.asScala.toSeq.collect { case ((ks, key), df) if ks eq s => (key, df) }
      .sortBy(_._1)
  }

  /** Drop every stored relation for `s`, unpersisting as it goes — the
    * bench's cold mode (SPARK_GRAFT_BENCH_COLD) calls this before each
    * query and the perfbench harness before each pass, so the next run
    * pays its own shared builds, like an oracle that re-executes them
    * every sample. Checkpoint blocks are freed by the ContextCleaner
    * once the released plans are GC'd.
    */
  def clear(s: SparkSession): Unit = {
    val it = cache.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 eq s) {
        try cache.get(k).unpersist(blocking = false) catch { case _: Throwable => () }
        it.remove()
      }
    }
  }
}
