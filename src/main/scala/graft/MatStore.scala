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
  * reuse the candidates; sim_recall reuses sim_lsh_topk's build. Keyed on
  * the session so a stopped session's plans are never reused (same
  * discipline as [[Tables]]); `spark.catalog.clearCache()`
  * does NOT drop these blocks — they are checkpoint RDDs, freed by the
  * ContextCleaner when the store entry (and thus the plan) is released.
  */
object MatStore {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Memo keys whose PLAN reads a durable store's files — the served
    * scans themselves plus any memo whose build consumed one (the file
    * index is captured at plan construction, so a post-compact swap
    * leaves those plans pointing at deleted files). Tracked PER STORE
    * DIRECTORY so [[graft.sources.IndexStore.compact]] can invalidate
    * exactly the memos reading the store it is swapping — not the whole
    * session store (r15 ADVICE: the lifecycle gate runs compact inside a
    * normal query pass, and a blanket clear discarded every unrelated
    * warm shared build mid-bench), and not memos served from a
    * DIFFERENT store (r16 review: the graph-ingest and lifecycle gates
    * each maintain their own store dir — compacting one must not cost
    * the other its published artifacts). Conservative in the safe
    * direction: a key is tainted when ANY tryServe succeeded while its
    * build was on this thread's stack, even if the serve's rows never
    * reached the returned plan.
    */
  private val storeTainted =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      java.util.Set[String]]()
  private val buildStack = new ThreadLocal[List[(SparkSession, String)]] {
    override def initialValue: List[(SparkSession, String)] = Nil
  }

  /** Called by [[graft.sources.IndexStore.tryServe]] on every successful
    * serve: taints every memo currently BUILDING on this thread (builds
    * are constructed synchronously on the caller's thread, so the stack
    * covers nested derivations like the lifecycle gate's post-compact
    * serve) with the serving store's directory.
    */
  private[graft] def noteStoreServed(s: SparkSession, storeDir: String): Unit =
    buildStack.get().foreach { case k @ (ks, _) =>
      if (ks eq s)
        storeTainted.computeIfAbsent(k, _ =>
          java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
          .add(storeDir)
    }

  /** Drop only the memos whose plans read `storeDir` ([[noteStoreServed]]
    * taint) — compact's scoped invalidation. Unrelated warm builds
    * (tokenized corpora, in-session edge relations, memos served from
    * OTHER stores) survive the maintenance action. A tainted key whose
    * build is still IN FLIGHT (taint recorded, memo not yet cached)
    * keeps its taint: the plan cached after this swap must stay
    * invalidatable by the next clear (r16 review).
    */
  def clearStoreDerived(s: SparkSession, storeDir: String): Unit = {
    val it = storeTainted.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if ((k._1 eq s) && e.getValue.contains(storeDir)) {
        val df = cache.remove(k)
        if (df != null) {
          try df.unpersist(blocking = false) catch { case _: Throwable => () }
          it.remove()
        }
      }
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
    lookup(s, key)(
      graft.sources.IndexStore.tryServe(s, key)
        .getOrElse(build.ckpt))

  /** Like [[of]] but memoizes the lazy plan WITHOUT checkpointing it — for
    * a cheap narrow projection of another memo (the LSH band rows over
    * the MinHash signature table), so the session holds the blocks once
    * and each read re-derives the projection. A published key still
    * serves, exactly as through [[of]].
    */
  def view(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    lookup(s, key)(graft.sources.IndexStore.tryServe(s, key).getOrElse(build))

  /** get-then-putIfAbsent instead of computeIfAbsent: store builds nest
    * (lshCandM → tokenizedM, kmAssign → kmCents), and a nested
    * computeIfAbsent on the same ConcurrentHashMap throws "Recursive
    * update" whenever the inner insert lands in the bin the outer call
    * holds. The benign race (two threads building the same lazy plan,
    * loser discarded un-materialized) costs nothing.
    */
  /** Union `from`'s store-taint set into every memo currently building on
    * this thread — taint propagation through memo COMPOSITION. A memo
    * built from an already-cached store-served memo never fires its own
    * tryServe (the serve happened in the original build), so without this
    * hop the derived memo's plan would survive [[clearStoreDerived]] and
    * dangle over the files compact just deleted (r16 ADVICE).
    */
  private def propagateTaint(s: SparkSession, from: (SparkSession, String)): Unit = {
    val stack = buildStack.get()
    if (stack.nonEmpty) {
      val taints = storeTainted.get(from)
      if (taints != null && !taints.isEmpty)
        stack.foreach { case sk @ (ks, _) =>
          if (ks eq s)
            storeTainted.computeIfAbsent(sk, _ =>
              java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
              .addAll(taints)
        }
    }
  }

  private def lookup(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    if (!cache.isEmpty)
      cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val k = (s, key)
    val existing = cache.get(k)
    if (existing != null) { propagateTaint(s, k); existing }
    else {
      buildStack.set(k :: buildStack.get())
      val built = try build finally buildStack.set(buildStack.get().tail)
      val prev = cache.putIfAbsent(k, built)
      if (prev != null) {
        // losing thread: discard the unused build. Memo-path builds
        // (iterRelation) persist() during plan CONSTRUCTION, so the
        // loser has already registered a CacheManager entry that would
        // otherwise leak until the next clearCache.
        try built.unpersist(blocking = false) catch { case _: Throwable => () }
        // the winner's build may carry taints ours did not re-fire
        propagateTaint(s, k)
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
    val df = lookup(s, key)(
      graft.sources.IndexStore.tryServe(s, key).getOrElse(build))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
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
        storeTainted.remove(k)
      }
    }
  }
}
