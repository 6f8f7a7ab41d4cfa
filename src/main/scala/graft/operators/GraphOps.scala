package graft.operators

import graft.Ckpt._
import graft.{MatStore, QueryDef, Tables}
import graft.functions.{Portable => P, PortableSql => PS}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph / network suite (SURVEY §2c) on customer↔supplier interaction
  * edges built through orders⋈lineitem — the Spark-first re-expression of
  * the reference's NetworkX social graph
  * (reference: network-analysis/network_analysis.py:42-292).
  *
  * Scale notes (SURVEY §5): edges are built by pre-aggregating lineitem on
  * (orderkey, suppkey) BEFORE the join so the shuffle moves the reduced
  * set; PageRank/label-propagation iterate keyed-by-node shuffle joins with
  * per-iteration persist + an unpersist of the previous state so lineage
  * stays bounded (at 100 TB swap persist for reliable checkpointing every
  * ~5 iterations; for components use large-star/small-star to cut rounds on
  * high-diameter graphs — this bipartite graph has diameter ~4).
  */
object GraphOps {

  /** Excluded node ids — the reference drops [deleted]/AutoModerator
    * (network_analysis.py:60-63); we drop known bot-account keys.
    */
  val ExcludedCustomers: Seq[Long] = Seq(1L, 2L)
  val ExcludedSuppliers: Seq[Long] = Seq(1L)

  // PageRank constants as literal text so Spark and the DuckDB oracle use
  // bit-identical doubles (never derive 0.15 as 1-0.85: fp differs).
  private val Damping = 0.85
  private val Rest = 0.15
  private val PrIters = 10

  /** Landmark-closeness parameters: K deterministic landmarks — the K
    * HIGHEST-DEGREE nodes (ties broken by smallest node id), fixed BFS
    * rounds (diameter here is ~4; unreached pairs fall back to rounds+1
    * so the result stays deterministic at any SF).
    *
    * Seed rule + K are the r16 verdict's top item: the smallest-id seed
    * at K=8 ranked closeness at Spearman ρ=0.46 / top-10 overlap 0.2 vs
    * exact on the probe subgraph (gr_centrality_err). Measured on the
    * same gate across seed rules (smallest-id / max-degree / max-wdegree
    * / farthest-point sweep / degree-stratified) and K ∈ {2..32}:
    * max-degree K=24 reads ρ=0.904 / top10 0.7 (betweenness under the
    * same rule at K=8: ρ=0.902 / 0.8) — high-degree hubs sit on short
    * paths to everywhere, so their distance sums track the true
    * closeness ordering far better than an arbitrary id slice, and the
    * seed stays a one-aggregate top-K both engines compute identically
    * (a farthest-point sweep scored no better here and costs K
    * sequential BFS passes). The K-vs-ρ curve ships as the oracled
    * `gr_centrality_tuning` panel.
    */
  private val ClLandmarks = 24
  private val ClRounds = 6

  /** Landmark-betweenness parameters: K pivot sources (Brandes & Pich
    * 2007 sampling; same max-degree seed as [[ClLandmarks]]), BFS depth
    * bounded at the graph's ~4 diameter.
    */
  private val BwLandmarks = 8
  private val BwRounds = 4

  /** WEIGHTED-distance landmark parameters (r14). The reference measures
    * closeness and betweenness with edge weight as DISTANCE
    * (network_analysis.py:145,154 — `distance='weight'` /
    * `weight='weight'`), where the r13 landmark rows counted hops — the
    * one silent semantic divergence the r13 verdict flagged. These
    * variants run synchronous Bellman-Ford relax rounds (per round each
    * node takes min over neighbors of dist(u) + w(u,v)) in the SAME
    * columnar landmark framework. The round count bounds the HOP length
    * of the weighted paths considered — the declared landmark
    * approximation, exact on any graph whose weighted shortest paths use
    * at most that many edges; weighted paths can use MORE hops than the
    * unweighted diameter (many light edges can undercut one heavy edge),
    * hence the larger bounds. [[ClWCap]] caps each landmark's distance
    * contribution (the weighted twin of the unweighted rounds+1
    * fallback): larger than any bounded-hop weighted distance observed
    * on this corpus, and applied identically by both engines, so an
    * unreached pair stays deterministic at any SF.
    */
  private val ClWRounds = 8
  private val ClWCap = 100L
  private val BwWRounds = 5
  /** Forward σ and backward δ pass depth over the weighted shortest-path
    * DAG: a weighted DAG is leveled by DISTANCE, not hops, so both
    * passes run as bounded synchronous relaxations to their fixpoint —
    * exact once the bound reaches the DAG's hop depth (≤ the relax
    * round count here, plus alternate equal-weight chains the relax
    * rounds themselves admit; the estimator is declared as
    * depth-bounded, and the oracle unrolls the identical rounds).
    */
  private val BwWDagIters = 5

  /** Label-propagation rounds. Fixed (not converged) so the oracle can
    * unroll the exact same number of synchronous steps. On this dense
    * diameter-~4 bipartite graph LPA collapses quickly (4 rounds → 2
    * giant communities); 3 rounds yields a Louvain-like distribution
    * (30 communities at sf0.01, mixed sizes), the useful dashboard shape.
    */
  private val LpIters = 3

  /** Louvain local-move sweep cap. Sweeps iterate until a sweep moves
    * ZERO nodes or this cap — the reference's `louvain_communities`
    * runs its move phase to convergence (network_analysis.py:180-212).
    * The move-down-only constraint (see [[grLouvain]]) makes every
    * node's label monotonically non-increasing across sweeps, so the
    * loop provably terminates; a zero-move sweep is a fixed point
    * (the sweep is a deterministic function of the labels, so once
    * sweep(l) = l every later sweep returns l too), which is what lets
    * the Spark loop early-break while the oracle unrolls all
    * [[LvSweeps]] statically — the trailing no-op sweeps change
    * nothing on either side. Measured at sf0.01 convergence takes 3
    * sweeps (2 moving + the zero-move fixed-point check); the cap only
    * bounds the unrolled SQL.
    */
  private val LvSweeps = 6

  /** Multi-level Louvain (r15, [[grLouvainMl]]): coarse levels unrolled
    * after the level-1 sweeps (2 contractions = 3 levels total — the
    * reference's hierarchy depth on graphs this shape; a zero-move
    * coarse level is a fixed point, so extra levels are no-ops) and the
    * per-coarse-level sweep cap (coarse graphs are community-count
    * sized, so sweeps converge in 1-2 moves; the cap only bounds the
    * unrolled SQL).
    */
  private val MlCoarseLevels = 2
  private val MlCoarseSweeps = 4

  // ---------------------------------------------------------------- library

  /** Weighted customer↔supplier edges; weight = number of line items.
    * One join + ONE hash aggregation: the map-side partial combine on
    * (custkey, suppkey) shrinks the aggregation shuffle to ~|edges| rows.
    * The orders side carries an EXPLICIT merge hint: orders is a fact
    * table, so a broadcast is the wrong 100 TB plan regardless — and even
    * at bench SF the auto-chosen broadcast built its 150k-row relation
    * single-threaded for 0.5s while the parallel shuffle join runs the
    * same build in 0.75s total vs 1.33s (min-of-4; shuffle_hash
    * measured within noise of merge). An earlier version pre-aggregated
    * lineitem on (orderkey, suppkey) first: an extra full shuffle that
    * neither co-partitions with the orderkey join nor reduces rows much
    * (~1 lineitem per order-supplier pair), so it cost every graph query
    * a shuffle for nothing.
    */
  def edges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a projection over the SHARED numeric edge materialization (see
    // [[edgesNum]]): 'c'+custkey / 's'+suppkey are exactly fmtNode of the
    // even/odd numeric encoding, so the string edge list is derived
    // instead of re-running the fact-table join with string group keys
    edgesNum(s, dir).select(
      fmtNode($"src").as("src"), fmtNode($"dst").as("dst"), $"weight")
  }

  /** Weighted edges on NUMERIC node ids (customer custkey·2, supplier
    * suppkey·2+1) — the internal relation every graph computation now
    * runs on. 8-byte keys hash, compare, sort and shuffle several times
    * cheaper than the public 'c…'/'s…' strings, and they keep every
    * aggregate hash-based (string min/max buffers force SortAggregate).
    * [[fmtNode]] restores the public string ids in each query's final
    * projection, so outputs are unchanged in shape.
    */
  def edgesNum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // session-shared materialization (see [[graft.MatStore]]): a graph
    // suite at 100 TB builds its edge list ONCE as a table and every
    // analysis reads it — here the first gr_* query pays the fact-table
    // join + aggregation and the rest reuse the ~|E|-row blocks. Fresh
    // output aliases per call (same discipline as [[graft.Tables.load]])
    // so two calls self-join like independent reads.
    val base = MatStore.of(s, s"gr_edges_num:$dir") {
      val l = Tables.lineitem(s, dir)
        .filter(!$"l_suppkey".isin(ExcludedSuppliers: _*))
        .select($"l_orderkey", $"l_suppkey")
      val o = Tables.orders(s, dir)
        .filter(!$"o_custkey".isin(ExcludedCustomers: _*))
        .select($"o_orderkey", $"o_custkey")
      l.join(o.hint("merge"), $"l_orderkey" === $"o_orderkey")
        .groupBy(
          ($"o_custkey".cast("long") * 2).as("src"),
          ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("weight"))
    }
    base.toDF(base.columns.toIndexedSeq: _*)
  }

  /** Both directions of the undirected graph: (node, nb, weight) — a LAZY
    * view. The union duplicates the edge build into both branches; they
    * run as parallel stages, so a single-pass caller (degree aggregation)
    * gets its answer without a materialization round-trip. Iterating
    * callers must wrap it in [[iterRelation]] first.
    */
  def undirected(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select($"src".as("node"), $"dst".as("nb"), $"weight")
      .union(e.select($"dst".as("node"), $"src".as("nb"), $"weight"))
  }

  /** Materialized iteration relation: hash-partitioned by `node`, the
    * high-cardinality key, then CACHED (not checkpointed). The cache is
    * the load-bearing choice: an InMemoryTableScan reports its child's
    * HashPartitioning(node), so every per-round groupBy over a broadcast
    * join on this relation plans NO exchange — partial and final
    * aggregate fuse into the scan stage. (A localCheckpoint here
    * reported UnknownPartitioning under AQE and every round paid a
    * |V|-row partial→final exchange: gr_communities measured 3.05s →
    * 1.93s at sf0.1 from this one change.) Partitioning by `nb` instead
    * skewed the relation — half its rows carry the ~1k supplier ids;
    * hashing by `node` (~16k mixed ids at sf0.1) balances partitions.
    * The relation is built once per query and static across rounds, so
    * cache lineage never grows (per-round STATE still localCheckpoints —
    * that is where lineage accumulated). clearCache()/session teardown
    * frees the blocks; at 100 TB use reliable checkpoint() or a
    * pre-bucketed table to survive executor loss with the partitioning
    * still visible to the planner.
    */
  def iterRelation(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    und.repartition($"node").persist()
  }

  /** Session-shared [[iterRelation]] over the weighted undirected graph —
    * every gr_* query that iterates (or aggregates per node) reads the
    * SAME node-partitioned cache instead of paying its own |2E|-row
    * repartition: the single-JVM twin of a cluster's pre-bucketed edge
    * table. Returned AS IS (no per-call re-alias): per-round state joins
    * rename their own side, and no query joins two sharedUnd calls
    * against each other — an extra Project here measurably slowed every
    * iteration round.
    */
  def sharedUnd(s: SparkSession, dir: String): DataFrame =
    MatStore.memo(s, s"gr_und_w:$dir")(
      iterRelation(undirected(edgesNum(s, dir))))

  /** Session-shared [[iterRelation]] of [[numericUnd]] (the duplicate-
    * preserving min-label relation used by components). */
  def sharedUndCc(s: SparkSession, dir: String): DataFrame =
    MatStore.memo(s, s"gr_und_cc:$dir")(
      iterRelation(numericUnd(s, dir)))

  /** Iteration-state hash threshold: below it the |V|-row state is
    * broadcast into the |E| relation (no shuffle, but the state must fit
    * on the driver); above it the state goes through a shuffled hash join
    * against the node-partitioned edge relation instead — the 100 TB
    * regime, where |V| outgrows any broadcast. [[stateHint]] makes the
    * choice when the caller knows |V|.
    */
  val StateBroadcastMaxRows = 2000000L

  /** Size-driven broadcast decision for iteration state (SURVEY §5). */
  def stateHint(stateRows: Long): Boolean = stateRows <= StateBroadcastMaxRows

  /** Session kill-switch for state broadcasts — `spark.graft
    * .stateBroadcast=false` forces every [[stateJoin]] onto the
    * shuffled-hash path regardless of the size hint. Exists so the
    * plan-shape spec (ScalePlanSpec) can assert the non-broadcast plans
    * are real, and so a cluster operator can disable driver-side state
    * collection wholesale without recompiling.
    */
  def stateBroadcastAllowed(s: SparkSession): Boolean =
    s.conf.get("spark.graft.stateBroadcast", "true").toBoolean

  /** The per-round state side of an iterative join: broadcast when the
    * state fits (bench SFs and up to ~100x), a shuffled hash join build
    * side when it doesn't. On the non-broadcast path the |E| side is
    * currently re-exchanged each round as well: an AQE localCheckpoint
    * reports UnknownPartitioning, so [[iterRelation]]'s node-key
    * partitioning is not visible to the planner and the shuffled hash
    * join exchanges both sides. Until a partitioning-preserving
    * materialization exists (reliable checkpoint() on a cluster keeps the
    * partitioning), the knob bounds DRIVER memory (no |V|-row broadcast
    * build), not the per-round shuffle volume.
    */
  private def stateJoin(state: DataFrame, bcast: Boolean): DataFrame =
    if (bcast && stateBroadcastAllowed(state.sparkSession)) broadcast(state)
    else state.hint("shuffle_hash")

  /** Degree + weighted degree per node. */
  def degrees(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    und.groupBy($"node")
      .agg(count(lit(1)).as("degree"), sum($"weight").as("wdegree"))
  }

  /** Weighted PageRank, `iters` fixed iterations, damping 0.85 — the
    * NetworkX-equivalent formulation (network_analysis.py:123-178): every
    * node in the undirected graph has out-edges, so there is no dangling
    * mass and pr_{t+1}(v) = (1-d)/N + d·Σ_{u→v} pr_t(u)·w(u,v)/wdeg(u).
    *
    * `u` must be an [[iterRelation]] (materialized, node-partitioned).
    */
  def pagerank(u: DataFrame, iters: Int = PrIters,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    // one partition-local aggregation doubles as the node list (every
    // node has an edge in the undirected relation), so the separate
    // distinct() pass over |E| is gone. Lazy localCheckpoint: the
    // LogicalRDD wrapper truncates the analyzed plan immediately, and the
    // count() below materializes the blocks in the same job it needs
    // anyway.
    val wdeg = u.groupBy($"node").agg(sum($"weight").as("wd")).ckpt
    // the ONE deliberate driver action: it materializes wdeg's blocks (a
    // job the first broadcast would pay anyway), and the scalar N it
    // returns feeds both the per-round literals and the size-driven
    // broadcast decision below — folding it into the plan as a scalar
    // aggregate would instead re-broadcast a 1-row relation every round.
    val n = wdeg.count()
    val bcast = stateBroadcast && stateHint(n)
    // wdeg is |V| rows: broadcast it explicitly — size estimation over a
    // checkpoint+agg is too conservative to trigger the auto-broadcast,
    // and the sort-merge fallback shuffles the full |E| relation once per
    // query (measured 2.2s vs 1.0s for this step at sf0.1). norm is
    // CACHED with its partitioning key chosen by the state regime — the
    // cache keeps the HashPartitioning visible to the planner (see
    // iterRelation), and the key decides WHICH per-round exchange is
    // elided:
    //  - broadcast state (bench SFs): partition by dst, the PER-ROUND
    //    AGGREGATION key — the broadcast join preserves it, so each
    //    round's contrib aggregation fuses partial+final into the scan
    //    stage with no exchange at all.
    //  - shuffled state (100 TB, |V| outgrows a broadcast): partition by
    //    src, the PER-ROUND JOIN key — the shuffled hash join then
    //    exchanges ONLY the |V|-row state side, and the dst aggregation
    //    pays a map-side-combined ~|V|-row partial exchange. Keying by
    //    dst here instead re-exchanged the full |E| relation every round
    //    (208.6 MB shuffle written over 10 rounds vs 68.7 MB after this
    //    fix; the broadcast path writes 38.6 MB).
    // The cache materializes under round 1 and is read as columnar blocks
    // by every later round.
    val norm = u.join(stateJoin(wdeg, bcast), "node")
      .select($"node".as("src"), $"nb".as("dst"), ($"weight" / $"wd").as("p"))
      .repartition(if (bcast) $"dst" else $"src")
      .persist()
    // localCheckpoint after every round: persist alone leaves the
    // analyzed plan growing one join+agg deeper per iteration, and
    // Catalyst re-analysis comes to dominate (measured 1.5s → 12s per
    // round by iteration 10). Checkpointing truncates lineage so every
    // round costs the same. LAZY (eager = false): each round's state then
    // materializes inside the NEXT round's broadcast-build job instead of
    // paying its own job-scheduling barrier — the barrier count per round
    // drops from 2 to 1 (measured 3.8s → 2.6s for the full query at
    // sf0.1). On a real cluster use reliable checkpoint() to HDFS/S3
    // instead (survives executor loss).
    var ranks = wdeg.select($"node", (lit(1.0) / n).as("r")).ckpt
    for (i <- 1 to iters) {
      // ranks is |V| rows (tiny next to |E|): broadcast it so the cached
      // edge relation streams through a broadcast-hash join each round
      // instead of re-shuffling — the map-side partial sum then shrinks
      // the shuffle to |V| rows. At 100 TB scale |V| may outgrow a
      // broadcast; pass stateBroadcast = false to keep both sides
      // hash-partitioned on the node key instead (see [[stateJoin]]).
      val contribs = norm.join(stateJoin(ranks.withColumnRenamed("node", "src0"), bcast), $"src" === $"src0")
        .groupBy($"dst").agg(sum($"r" * $"p").as("contrib"))
      // in an undirected graph every node has an in-edge, so contribs
      // already covers all nodes — no left-join back to the node list
      // (the oracle's LEFT JOIN produces the same rows).
      val next = contribs
        .select($"dst".as("node"),
          (lit(Rest) / n + lit(Damping) * $"contrib").as("r"))
      // ranks is consumed exactly ONCE per round (the state broadcast), so
      // checkpointing every 2nd round halves the materializations without
      // any recomputation; analysis depth stays bounded at two rounds.
      ranks = if (i % 2 == 0 || i == iters) next.ckpt else next
    }
    ranks
  }

  /** Rounds between eigenvector normalize+checkpoint barriers — see
    * [[eigenvector]]. Gap 2 keeps every |E|-round computed exactly once
    * (the unmaterialized odd round executes inside the even round's
    * broadcast build, whose collected result the checkpoint job then
    * reuses); gap 3+ would recompute interior rounds.
    */
  private val EvNormEvery = 2

  /** Weighted eigenvector centrality via (A+I) power iteration with L2
    * normalization (the +I term keeps bipartite graphs from oscillating,
    * mirroring NetworkX's formulation; network_analysis.py:123-178).
    * The global L2 norm runs through an exact decimal sum so each
    * normalization's scale factor is bit-identical to the oracle's.
    *
    * `u` must be an [[iterRelation]]: each round streams its blocks
    * through a broadcast join + partial aggregation, so the only per-round
    * exchange carries |V|-row partials — no round shuffles the |E|
    * relation. Normalization + checkpoint happen every [[EvNormEvery]]-th
    * round (power iteration is scale-invariant, so WHERE you renormalize
    * is semantics-free as long as the oracle unrolls identically): the
    * odd round carries no window stage and no action at all — its joins
    * execute lazily inside the even round's broadcast-build job — which
    * halves the per-round job barriers that dominate this query at bench
    * SF (r8: 2 jobs x ~0.13s scheduling per round; r9 single-DAG shuffle
    * variant re-measured WORSE, 40 AQE stage-jobs + a re-exchange of the
    * cached |E| side per round, since AQE runs every shuffle stage as its
    * own job). Decimal-overflow bound, gap-2 honest version: the norm
    * runs after TWO unnormalized rounds, so |x| ≤ (1+λ)² for
    * λ = max weighted degree and the norm terms x² reach (1+λ)⁴. At
    * DECIMAL(38,12) — 26 integer digits — that overflows only past
    * λ ≈ 2.4e6 (scale 20 overflowed at λ ≈ 3.2e4, the spam-hub regime
    * this repo designs for elsewhere; overflow is a silent null sum on
    * Spark but a hard error in DuckDB — a parity break, not just a bad
    * number). Scale 12 keeps ≥7 significant digits on the x² terms at
    * bench |V|, and both engines round the SAME IEEE doubles to the
    * SAME decimals, so hashes stay identical. For graphs with hubs
    * beyond λ ≈ 2.4e6, normalize every round (EvNormEvery = 1 bounds
    * terms at (1+λ)² → λ ≈ 1.5e13).
    */
  def eigenvector(u: DataFrame, iters: Int = PrIters,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val nodes = u.select($"node").distinct().ckpt
    val n = nodes.count()
    val bcast = stateBroadcast && stateHint(n) // see pagerank
    var x = nodes.select($"node", (lit(1.0) / n).as("x")).ckpt
    for (i <- 1 to iters) {
      // ONE renamed copy of x feeds BOTH joins this round: the two
      // broadcast exchanges then canonicalize identically, so the
      // physical planner's ReuseExchange builds the x broadcast once.
      val x2 = x.withColumnRenamed("node", "nb0")
      val contribs = u.join(stateJoin(x2, bcast), $"nb" === $"nb0")
        .groupBy($"node").agg(sum($"weight" * $"x").as("c"))
      // the (A+I) self term rides the SAME broadcast as the neighbor join
      // (|V|-row probe, ~free); a union/self-loop fold was re-measured
      // slower — it forces an extra edge-build materialization.
      val raw = contribs.join(stateJoin(x2, bcast), $"node" === $"nb0")
        .select($"node", ($"x" + $"c").as("x"))
      x = if (i % EvNormEvery == 0 || i == iters) {
        // checkpoint raw BEFORE the norm: otherwise the |E|-sized join
        // above runs twice (once under the norm aggregate, once under the
        // next consumer). The L2 norm is an UNPARTITIONED window
        // aggregate: the |V|-row raw relation collapses to one partition
        // inside the same job — no 1-row broadcast build per round. The
        // decimal-exact sum is order-independent, so the value is
        // bit-identical to the oracle's scalar subquery.
        // the checkpoint is LOAD-BEARING: a fully lazy broadcast chain was
        // re-measured at 1032 jobs / 110s — AQE re-executes the entire
        // prior chain inside every later broadcast build instead of
        // reusing it, so each round must leave materialized blocks behind.
        val rawM = raw.ckpt
        val all = org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
        val nr = sqrt(sum(($"x" * $"x").cast(DecimalType(38, 12))).over(all).cast("double"))
        // x stays UNcheckpointed: rawM is materialized blocks and the next
        // round consumes x through ONE reused broadcast, so the projection
        // re-evaluates once — a |V|-row scan, cheaper than another barrier.
        rawM.select($"node", ($"x" / nr).as("x"))
      } else raw
    }
    x
  }

  /** Unchecked min-label rounds before the first convergence count — see
    * [[components]]. Labels stop changing after round 4 at the bench SFs
    * (measured by replaying the min-label rounds to fixpoint in DuckDB at
    * sf0.01 and sf0.1), so 6 keeps a 1.5x margin; the check loop after
    * the unchecked batch still guarantees the exact fixpoint on any graph.
    */
  val CcUncheckedRounds = 6

  /** Connected components via iterative min-label propagation; converges in
    * O(diameter) rounds, bounded by maxIters.
    *
    * The first [[CcUncheckedRounds]] rounds run WITHOUT a convergence
    * check: each check is a driver-blocking count() that serializes an
    * extra |V|-row job per round, and on this diameter-~4 graph it never
    * fires before round ~5 anyway (the checks were half of r4's 56.5s
    * gr_components timing). After the unchecked batch the loop falls back
    * to check-per-round, so callers on unknown-diameter graphs (e.g.
    * dd_clusters' near-dup chains) still get the exact fixpoint.
    */
  def components(u: DataFrame, maxIters: Int = 20,
      uncheckedRounds: Int = CcUncheckedRounds,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    // lazy localCheckpoint per round truncates lineage (see pagerank)
    var lbls = u.select($"node").distinct()
      .select($"node", $"node".as("lbl")).ckpt
    // min(own ∪ neighbor labels) as neighbor-min + least(own): the
    // neighbor aggregation is exchange-free over the cached node-
    // partitioned relation (see iterRelation), and the own label folds in
    // through the SAME broadcast (one renamed copy feeds both joins, so
    // ReuseExchange builds it once — the eigenvector x2 shape). The
    // earlier union-before-aggregate formulation broke the partitioning
    // and paid a |V|-row exchange every round. Every node has an edge in
    // the undirected relation, so the neighbor aggregate covers all nodes.
    def step(l: DataFrame): DataFrame = {
      val l2 = l.withColumnRenamed("node", "nb0")
      u.join(stateJoin(l2, stateBroadcast), $"nb" === $"nb0")
        .groupBy($"node").agg(min($"lbl").as("nl"))
        .join(stateJoin(l2, stateBroadcast), $"node" === $"nb0")
        .select($"node", least($"nl", $"lbl").as("lbl"))
        .ckpt
    }
    // checked round: ONE job computes the step AND the convergence probe.
    // The l branch of the union carries its own label in an `old` column
    // (each node occurs exactly once there, so max(old) recovers it); the
    // count() materializes the checkpointed result, and the changed-row
    // filter rides the same blocks — the separate |V|-row diff join per
    // checked round (its own job-scheduling barrier) is gone.
    def stepChecked(l: DataFrame): (DataFrame, Long) = {
      val l2 = l.withColumnRenamed("node", "nb0")
      val nw = u.join(stateJoin(l2, stateBroadcast), $"nb" === $"nb0")
        .groupBy($"node").agg(min($"lbl").as("nl"))
        .join(stateJoin(l2, stateBroadcast), $"node" === $"nb0")
        .select($"node", least($"nl", $"lbl").as("lbl"), $"lbl".as("old"))
        .ckpt
      (nw.select($"node", $"lbl"), nw.filter($"lbl" =!= $"old").count())
    }
    // |V|-row join of two checkpointed states — far cheaper than a step;
    // routed through the same size knob as the state joins (at 100 TB a
    // |V|-row broadcast build would OOM the driver here too)
    def diff(a: DataFrame, b: DataFrame): Long =
      a.join(stateJoin(b.withColumnRenamed("lbl", "old"), stateBroadcast), "node")
        .filter($"lbl" =!= $"old").count()
    var prev: DataFrame = null
    var i = 0
    while (i < uncheckedRounds && i < maxIters) {
      prev = lbls
      lbls = step(lbls)
      i += 1
    }
    // the unchecked batch keeps its last two states checkpointed, so the
    // first convergence probe compares THEM instead of paying one more
    // full |E| step: min-label propagation is monotone, so one unchanged
    // round proves the fixpoint.
    var changed = if (prev == null) 1L else diff(lbls, prev)
    while (changed > 0 && i < maxIters) {
      val (nw, ch) = stepChecked(lbls)
      lbls = nw
      changed = ch
      i += 1
    }
    lbls.withColumnRenamed("lbl", "comp")
  }

  /** Numeric-id undirected multi-edge view for [[components]]: customer
    * nodes are custkey·2, supplier nodes suppkey·2+1. BIGINT labels keep
    * every round's partial min inside Spark's HashAggregate; the string
    * node form ('c…'/'s…') forced a SortAggregate over the full edge
    * relation per round (min over a string buffer is not
    * hash-aggregable). Duplicate edges are kept — they cannot change a
    * min-label fixpoint — which also drops the edge-build aggregation
    * shuffle. [[fmtNode]] restores the public string ids at the end.
    */
  def numericUnd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir)
      .filter(!$"l_suppkey".isin(ExcludedSuppliers: _*))
      .select($"l_orderkey", $"l_suppkey")
    val o = Tables.orders(s, dir)
      .filter(!$"o_custkey".isin(ExcludedCustomers: _*))
      .select($"o_orderkey", $"o_custkey")
    val ed = l.join(o.hint("merge"), $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey".cast("long") * 2).as("node"),
        ($"l_suppkey".cast("long") * 2 + 1).as("nb"))
    ed.union(ed.select($"nb".as("node"), $"node".as("nb")))
  }

  /** 'c<id>' / 's<id>' string form of a [[numericUnd]] node id. */
  def fmtNode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(when(c % 2 === 0, "c").otherwise("s"), shiftright(c, 1).cast("string"))

  /** Columnar landmark-BFS state: ONE row per node with per-landmark
    * distance columns d0..d{K-1} (null = unreached) and, when `sigma`,
    * shortest-path-count columns s0..s{K-1} (exact BIGINT). Pivoting the
    * K landmarks into columns instead of |V|·K (node, lmk) rows is what
    * makes the landmark suite cheap: state stays |V| rows for the whole
    * run (no growing union, no per-round anti-join), every broadcast and
    * shuffle carries K× fewer rows, and each round is ONE frontier join +
    * ONE merge join with constant-size plans (the row-based variant's
    * union-of-levels plans grew every round and their re-analysis came to
    * dominate the wall time). The landmark ids arrive as literals
    * (`lmkIds`, a K-row driver seed — same class as pagerank's scalar N
    * seed), so the per-column masks are codegen'd constants.
    */
  private def landmarkBfs(u: DataFrame, nodes: DataFrame, lmkIds: Array[Long],
      rounds: Int, sigma: Boolean, bcast: Boolean): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val ks = lmkIds.indices
    def d(i: Int) = col(s"d$i")
    def sg(i: Int) = col(s"s$i")
    // `fr` marks this round's frontier as ONE precomputed boolean (node
    // newly reached by ANY landmark last round). Filtering on a K-wide
    // OR instead made Catalyst's constraint propagation enumerate
    // combinations of the K disjuncts per round: measured 15s at K=16,
    // 277s + 5 GB driver heap at K=20, OOM at K=24 on a 1597-node
    // graph; with the single-attribute filter (constraint set size 1)
    // K=24 runs in 2.8s. The flag is recomputed in the same merge
    // projection that sets the distances, so it costs nothing extra.
    val init = nodes.select($"node" +:
      (ks.map(i => when($"node" === lmkIds(i), 0).cast("int").as(s"d$i")) ++
        (if (sigma) ks.map(i => when($"node" === lmkIds(i), 1L).as(s"s$i")) else Nil) :+
        ks.map(i => $"node" === lmkIds(i)).reduce(_ || _).as("fr")): _*)
    var state = init.ckpt
    for (r <- 1 to rounds) {
      // only the previous round's frontier joins the edge relation: a
      // node's min distance is final the round it is first reached
      val frontier = state.filter($"fr")
        .select($"node".as("nb0") +:
          (ks.map(i => d(i).as(s"fd$i")) ++
            (if (sigma) ks.map(i => sg(i).as(s"fs$i")) else Nil)): _*)
      // per-landmark candidate aggregate over the frontier's neighbors:
      // σ(v at r) = Σ σ(neighbors at r-1); without sigma just reach
      val aggs =
        if (sigma) ks.map(i => sum(when(col(s"fd$i") === r - 1, col(s"fs$i"))).as(s"c$i"))
        else ks.map(i => max(when(col(s"fd$i") === r - 1, lit(r))).as(s"c$i"))
      val cand = u.join(stateJoin(frontier, bcast), $"nb" === $"nb0")
        .groupBy($"node").agg(aggs.head, aggs.tail: _*)
      // merge: already-reached distances are final; newly reached get d=r
      state = state.join(stateJoin(cand, bcast), Seq("node"), "left")
        .select($"node" +:
          (ks.map(i => coalesce(d(i), when(col(s"c$i").isNotNull, r)).as(s"d$i")) ++
            (if (sigma) ks.map(i => coalesce(sg(i), col(s"c$i")).as(s"s$i")) else Nil) :+
            ks.map(i => d(i).isNull && col(s"c$i").isNotNull).reduce(_ || _).as("fr")): _*)
        .ckpt
    }
    state.drop("fr")
  }

  /** The max-degree landmark seed: the K highest-degree nodes (degree
    * DESC, node id ASC on ties) — a K-row top-K collect over the degree
    * aggregate, the deliberate driver action of the landmark suite (it
    * pins the per-column landmark masks as codegen literals; K is a
    * constant, so the collect stays K rows at any data scale, and the
    * degree relation is the same one-aggregation shape as [[degrees]]).
    * Hub landmarks measured ρ=0.90 vs exact closeness on the probe
    * subgraph where the old smallest-id slice read 0.46 (see
    * [[ClLandmarks]]); the rule is exact integer arithmetic (COUNT,
    * BIGINT ids) so the DuckDB oracle computes the identical K ids.
    */
  private def landmarkSeed(u: DataFrame, k: Int): Array[Long] = {
    val s = u.sparkSession
    import s.implicits._
    degrees(u).orderBy($"degree".desc, $"node".asc)
      .select($"node").limit(k).as[Long].collect()
  }

  /** [[landmarkSeed]]'s SQL twin: top-K nodes by (COUNT(*) DESC, node)
    * over the undirected CTE `undCte`.
    */
  private def lmkSeedSql(undCte: String, k: Int): String =
    s"""(SELECT node FROM (SELECT node, COUNT(*) AS dg FROM $undCte
       |  GROUP BY node ORDER BY dg DESC, node LIMIT $k))""".stripMargin

  /** Landmark-based closeness centrality — the scalable stand-in for the
    * reference's exact NetworkX closeness (network_analysis.py:123-178),
    * whose all-pairs BFS cannot survive 100 TB. K landmark sources (the K
    * highest-degree nodes — see [[landmarkSeed]]), synchronous BFS distance
    * relaxation for a fixed number of rounds via [[landmarkBfs]], then
    * closeness(v) = K / Σ_l min(dist(v,l), rounds+1). Published pattern:
    * landmark/pivot centrality estimation (Brandes & Pich 2007). State is
    * |V| rows (distances columnar per landmark); when |V| outgrows a
    * broadcast the size-driven [[stateJoin]] knob shifts every state join
    * to a shuffled hash join against the node-partitioned edge relation.
    */
  def closeness(u: DataFrame, k: Int = ClLandmarks, rounds: Int = ClRounds,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    // lazy: materializes under the count() (see betweenness)
    val nodes = u.select($"node").distinct().ckpt
    val bcast = stateBroadcast && stateHint(nodes.count())
    val lmkIds = landmarkSeed(u, k)
    val state = landmarkBfs(u, nodes, lmkIds, rounds, sigma = false, bcast)
    // closeness(v) = K / Σ_i min(dist(v, lmk_i), rounds+1): exact integer
    // sum over the K distance columns, cast once — identical to the
    // oracle's SUM(COALESCE(d, rounds+1)) over K rows
    val tot = lmkIds.indices.map(i => coalesce(col(s"d$i"), lit(rounds + 1)))
      .reduce(_ + _)
    // numerator is the CONSTANT k (the oracle's CAST(k AS DOUBLE)), even
    // if the graph has fewer than k nodes
    state.select($"node",
      (lit(k).cast("double") / tot.cast("double")).as("c"))
  }

  /** Landmark (pivot-sampled) betweenness — Brandes' dependency
    * accumulation run from K pivot sources only (published pattern:
    * Brandes & Pich 2007, "Centrality Estimation in Large Networks"),
    * the scalable stand-in for the reference's exact NetworkX betweenness
    * (network_analysis.py:145-148), whose all-pairs shortest paths cannot
    * survive 100 TB. Two level-synchronous passes over the edge relation:
    *
    *  - forward: BFS keeping (distance d, shortest-path count σ) per
    *    (node, landmark); σ stays exact BIGINT (sums of path counts).
    *  - backward: walk the shortest-path DAG one level at a time from the
    *    deepest frontier, accumulating Brandes' dependency
    *    δ(v) = Σ_{w: successor} (σ_v/σ_w)·(1 + δ(w)).
    *
    * Score(v) = Σ_l δ_l(v) / K (the pivot-sample estimator). Both passes
    * run on COLUMNAR per-landmark state (see [[landmarkBfs]]): |V|-row
    * state, |E|-row DAG, K× fewer rows than a (node, lmk) expansion at
    * every join and shuffle. The size-driven [[stateJoin]] knob shifts
    * every state join to a shuffled hash join when |V| outgrows a
    * broadcast (100 TB posture, same as [[pagerank]]).
    * δ aggregation routes through decimal casts (Portable.dsum) so the
    * DuckDB oracle twin hash-matches despite double non-associativity.
    */
  def betweenness(u: DataFrame, k: Int = BwLandmarks, rounds: Int = BwRounds,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    // lazy: materializes under the count() below; the landmark top-K and
    // every later reader then ride the blocks
    val nodes = u.select($"node").distinct().ckpt
    val bcast = stateBroadcast && stateHint(nodes.count())
    val lmkIds = landmarkSeed(u, k)
    val ks = lmkIds.indices
    // forward: columnar BFS with exact BIGINT σ path counts per landmark
    val state = landmarkBfs(u, nodes, lmkIds, rounds, sigma = true, bcast)
    // shortest-path DAG, one row per edge (v → w) that is a DAG edge for
    // ANY landmark: lv_i = dist(v) when dist(w) = dist(v)+1 under landmark
    // i (null otherwise), rt_i = σ_v/σ_w for the same mask. K× fewer rows
    // than the row-based (lmk, v, w) expansion.
    val reached = state.filter(ks.map(i => col(s"d$i").isNotNull).reduce(_ || _))
    val sv = reached.select($"node".as("v") +:
      ks.flatMap(i => Seq(col(s"d$i").as(s"dv$i"), col(s"s$i").as(s"sv$i"))): _*)
    val sw = reached.select($"node".as("w") +:
      ks.flatMap(i => Seq(col(s"d$i").as(s"dw$i"), col(s"s$i").as(s"sw$i"))): _*)
    val dag = u.join(stateJoin(sv, bcast), $"node" === $"v")
      .join(stateJoin(sw, bcast), $"nb" === $"w")
      .select($"v" +: $"w" +: ks.flatMap(i => Seq(
        when(col(s"dw$i") === col(s"dv$i") + 1, col(s"dv$i")).as(s"lv$i"),
        when(col(s"dw$i") === col(s"dv$i") + 1,
          col(s"sv$i").cast("double") / col(s"sw$i").cast("double")).as(s"rt$i"))): _*)
      .filter(ks.map(i => col(s"lv$i").isNotNull).reduce(_ || _))
      // plain lazy checkpoint: a repartition($"v").persist() here (to make
      // the backward level aggregations exchange-free like iterRelation)
      // was measured WORSE — shuffling the wide 2+2K-column DAG rows cost
      // 80 MB vs 18 MB total and +0.9s, far more than the four |V|-row
      // level exchanges it saved
      .ckpt
    // backward: deepest level seeds δ = 0; each earlier level joins ONLY
    // the level above it (DAG edges cross adjacent levels), with δ per
    // landmark in columns pd0..pd{K-1} (null = no dependency at this level)
    var prev = state.filter(ks.map(i => col(s"d$i") === rounds).reduce(_ || _))
      .select($"node" +: ks.map(i =>
        when(col(s"d$i") === rounds, lit(0.0)).as(s"pd$i")): _*)
      .ckpt
    val levels = scala.collection.mutable.ArrayBuffer(prev)
    for (r <- (rounds - 1) to 0 by -1) {
      // the per-edge term is pre-rounded with the portable prnd before
      // the exact decimal sum: casting a RAW double to decimal(·,9)
      // rounds by shortest-decimal-repr in Spark but by binary value in
      // DuckDB, and a term whose repr ends in an exact 5 at digit 9
      // diverges by 1e-9 (observed once in ~1600 rows); after prnd the
      // value sits ~0.5e-9 away from any decimal tie, so both engines
      // cast to the same decimal.
      val aggs = ks.map(i => P.dsum(when(col(s"lv$i") === r,
        P.prnd(col(s"rt$i") * (lit(1.0) + coalesce(col(s"w_pd$i"), lit(0.0))), 9)), 9)
        .as(s"pd$i"))
      val lvl = dag.filter(ks.map(i => col(s"lv$i") === r).reduce(_ || _))
        .join(stateJoin(prev.select($"node".as("w2") +:
          ks.map(i => col(s"pd$i").as(s"w_pd$i")): _*), bcast), $"w" === $"w2", "left")
        .groupBy($"v")
        .agg(aggs.head, aggs.tail: _*)
        .withColumnRenamed("v", "node")
        .ckpt
      levels += lvl
      prev = lvl
    }
    val delta = levels.reduce(_ union _)
    // final per-node score: Σ over landmarks and levels of δ, through the
    // SAME exact decimal(18,9) arithmetic as the row-based multiset sum
    // (per-column decimal sums added as decimals, ONE final cast to
    // double), with the Brandes v ≠ source mask applied per column — the
    // landmark ids are literals, so the masks are codegen'd constants
    val zero = lit(0).cast(DecimalType(18, 9))
    val colSums = ks.map(i => coalesce(
      sum(when($"node" =!= lmkIds(i), col(s"pd$i")).cast(DecimalType(18, 9))), zero))
    val bc = delta.groupBy($"node")
      .agg((colSums.reduce(_ + _).cast("double") / lit(k).cast("double")).as("b"))
    nodes.join(bc, Seq("node"), "left")
      .select($"node", coalesce($"b", lit(0.0)).as("b"))
  }

  /** Columnar landmark WEIGHTED-distance state: one row per node with
    * per-landmark distance columns d0..d{K-1} (BIGINT sum of edge
    * weights; null = unreached within the hop bound), computed by
    * `rounds` synchronous Bellman-Ford relaxations. Unlike BFS a
    * weighted distance is NOT final the round it is first set — a later
    * lighter path may undercut it — so the frontier is the CHANGED set
    * (per-landmark change flags g0..g{K-1}): a node re-propagates only
    * in the round after one of its distances improved, which is the
    * standard delta relaxation and produces the same per-round state as
    * relaxing every edge (a skipped edge was already relaxed with the
    * identical source distance). State stays |V| rows with 2K columns;
    * every join is the same frontier-into-edges shape as [[landmarkBfs]]
    * and the size-driven [[stateJoin]] knob applies unchanged.
    */
  private def weightedDists(u: DataFrame, nodes: DataFrame, lmkIds: Array[Long],
      rounds: Int, bcast: Boolean, probe: Int => Unit = _ => ()): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val ks = lmkIds.indices
    def d(i: Int) = col(s"d$i")
    def g(i: Int) = col(s"g$i")
    // `ga` = any per-landmark change flag, ONE precomputed boolean: the
    // same constraint-propagation guard as [[landmarkBfs]]'s `fr` (a
    // K-wide OR filter made the optimizer enumerate disjunct
    // combinations — OOM at K=24)
    val init = nodes.select($"node" +:
      (ks.map(i => when($"node" === lmkIds(i), 0L).as(s"d$i")) ++
        ks.map(i => ($"node" === lmkIds(i)).as(s"g$i")) :+
        ks.map(i => $"node" === lmkIds(i)).reduce(_ || _).as("ga")): _*)
    var state = init.ckpt
    // convergence short-circuit (r14 verdict item 6): an empty frontier
    // is a FIXED POINT — no distance improved this round, so every later
    // round relaxes nothing and the oracle's statically-unrolled
    // trailing rounds are no-ops. The count per round is one cheap
    // aggregate on state the next round's join would materialize anyway
    // (the components fixpoint-probe discipline).
    var round = 0
    var active = 1L
    while (round < rounds && active > 0) {
      round += 1
      val frontier = state.filter($"ga")
        .select($"node".as("nb0") +:
          ks.flatMap(i => Seq(d(i).as(s"fd$i"), g(i).as(s"fg$i"))): _*)
      val aggs = ks.map(i =>
        min(when(col(s"fg$i"), col(s"fd$i") + $"weight")).as(s"c$i"))
      val cand = u.join(stateJoin(frontier, bcast), $"nb" === $"nb0")
        .groupBy($"node").agg(aggs.head, aggs.tail: _*)
      // merge: keep the smaller of current and candidate; the change
      // flag marks a strict improvement (drives the next frontier)
      state = state.join(stateJoin(cand, bcast), Seq("node"), "left")
        .select($"node" +:
          (ks.map(i => when(d(i).isNull, col(s"c$i"))
            .when(col(s"c$i").isNull, d(i))
            .when(col(s"c$i") < d(i), col(s"c$i"))
            .otherwise(d(i)).as(s"d$i")) ++
            ks.map(i => (col(s"c$i").isNotNull &&
              (d(i).isNull || col(s"c$i") < d(i))).as(s"g$i")) :+
            ks.map(i => col(s"c$i").isNotNull &&
              (d(i).isNull || col(s"c$i") < d(i))).reduce(_ || _).as("ga")): _*)
        .ckpt
      // the frontier count is the convergence short-circuit AND the
      // round's materializing action — but at round == rounds the loop
      // exits regardless, so that last count was a pure job barrier
      // (r19 verdict item 3): skip it and let the final state's lazy
      // checkpoint materialize inside the first downstream consumer's
      // job (closeness_w's output scan / betweenness_w's sv broadcast
      // build — later consumers read the same blocks).
      active = if (round < rounds) state.filter($"ga").count() else 0L
    }
    probe(round)
    state.select($"node" +: ks.map(i => d(i)): _*)
  }

  /** Landmark closeness over WEIGHTED distance — the reference-parity
    * twin of [[closeness]] (`nx.closeness_centrality(distance='weight')`,
    * network_analysis.py:154): distance is the sum of edge weights along
    * the lightest path, not the hop count. K landmark sources, `rounds`
    * Bellman-Ford relax rounds via [[weightedDists]], then
    * closeness_w(v) = K / Σ_l min(dist_w(v,l), [[ClWCap]]) — the same
    * Brandes & Pich pivot estimator with the cap standing in for
    * rounds+1. All distance arithmetic is exact BIGINT; only the final
    * division is double.
    */
  def closenessW(u: DataFrame, k: Int = ClLandmarks, rounds: Int = ClWRounds,
      stateBroadcast: Boolean = true,
      probe: (String, Int) => Unit = (_, _) => ()): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val nodes = u.select($"node").distinct().ckpt
    val bcast = stateBroadcast && stateHint(nodes.count())
    val lmkIds = landmarkSeed(u, k)
    val state = weightedDists(u, nodes, lmkIds, rounds, bcast,
      probe("relax", _))
    val tot = lmkIds.indices.map(i =>
      when(col(s"d$i").isNull || col(s"d$i") > ClWCap, ClWCap)
        .otherwise(col(s"d$i"))).reduce(_ + _)
    state.select($"node",
      (lit(k).cast("double") / tot.cast("double")).as("c"))
  }

  /** Landmark (pivot-sampled) betweenness over WEIGHTED distance — the
    * reference-parity twin of [[betweenness]]
    * (`nx.betweenness_centrality(weight='weight')`,
    * network_analysis.py:145): shortest paths measured in summed edge
    * weight. Three bounded synchronous passes, all on the columnar
    * landmark state:
    *
    *  - distances: [[weightedDists]] Bellman-Ford rounds (exact BIGINT);
    *  - σ path counts: the weighted shortest-path DAG has an edge v→w
    *    per landmark exactly when d(w) = d(v) + weight(v,w); a weighted
    *    DAG is leveled by distance, not hops, so σ (σ(lmk)=1,
    *    σ(v)=Σ_pred σ(u)) runs as [[BwWDagIters]] synchronous forward
    *    relaxations — after t rounds σ counts the DAG paths of ≤ t hops,
    *    the fixpoint once t reaches the DAG depth;
    *  - δ dependencies: Brandes' δ(v) = Σ_{w:succ} σv/σw·(1+δ(w)) as
    *    [[BwWDagIters]] synchronous backward relaxations from δ≡0 —
    *    after t rounds δ carries dependency mass from descendants ≤ t
    *    levels deep, the same bounded-depth estimator, with the r12
    *    prnd-before-dsum decimal discipline at every round so the
    *    DuckDB twin hash-matches despite double non-associativity.
    *
    * Score(v) = Σ_l δ_l(v)/K with the Brandes v ≠ source mask. Every
    * pass is a keyed join of |V|-row (or DAG-row) state against the
    * materialized edge relation — the [[pagerank]] iteration shape, K×
    * fewer rows than a (node, landmark) expansion, size-driven
    * broadcasts throughout.
    */
  def betweennessW(u: DataFrame, k: Int = BwLandmarks, rounds: Int = BwWRounds,
      dagIters: Int = BwWDagIters, stateBroadcast: Boolean = true,
      probe: (String, Int) => Unit = (_, _) => ()): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val nodes = u.select($"node").distinct().ckpt
    val bcast = stateBroadcast && stateHint(nodes.count())
    val lmkIds = landmarkSeed(u, k)
    val ks = lmkIds.indices
    val state = weightedDists(u, nodes, lmkIds, rounds, bcast,
      probe("relax", _))
    // weighted shortest-path DAG, columnar: one row per edge that is a
    // DAG edge for ANY landmark, with per-landmark membership masks
    val sv = state.select($"node".as("v") +: ks.map(i => col(s"d$i").as(s"dv$i")): _*)
    val sw = state.select($"node".as("w") +: ks.map(i => col(s"d$i").as(s"dw$i")): _*)
    val dag = u.join(stateJoin(sv, bcast), $"node" === $"v")
      .join(stateJoin(sw, bcast), $"nb" === $"w")
      .select($"v" +: $"w" +: ks.map(i =>
        (col(s"dw$i") === col(s"dv$i") + $"weight").as(s"e$i")): _*)
      .filter(ks.map(i => coalesce(col(s"e$i"), lit(false))).reduce(_ || _))
      .ckpt
    // forward σ: pinned σ(lmk)=1, else Σ over DAG predecessors of the
    // previous round's σ (exact BIGINT). State is SPARSE — one row per
    // node with any σ so far; an absent row means all-null σ, which is
    // exactly what the dense formulation carried for unreached nodes,
    // so no per-round |V|-row re-densify join is paid (a |V|-row
    // shuffle per round on the non-broadcast path). The landmarks ride
    // an 8-row frame: a landmark node can accumulate σ for OTHER
    // landmarks' DAGs, so pinning is per-column over the candidate rows
    // plus an 8-row anti-join for landmarks no candidate row covers.
    val lmkFrame = s.createDataFrame(
      s.sparkContext.parallelize(lmkIds.toSeq.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // σ is pointwise MONOTONE non-decreasing across rounds (each round
    // counts DAG paths of one more hop; terms are non-negative), so the
    // per-column sums are a complete fixpoint probe: unchanged sums ⇒
    // no σ changed and no null became non-null ⇒ every later round is a
    // no-op (matching the oracle's trailing statically-unrolled rounds).
    // One cheap aggregate per round on the just-checkpointed state
    // (r14 verdict item 6).
    //
    // Soundness guard (r15 ADVICE): monotonicity — and with it the
    // probe's completeness — silently breaks if a Long σ wraps (path
    // counts grow exponentially on dense DAGs; Spark wraps negative
    // where DuckDB BIGINT errors), and wrapped positives and negatives
    // can cancel inside a sum, faking an unchanged metric. The same
    // aggregate therefore also reads each column's MIN (a wrap is
    // negative at the row level) and the loop watches for any
    // per-column sum DECREASE; either signal marks the probe unsound
    // and the loop falls through to the full statically-unrolled
    // dagIters — never an early exit on a corrupted metric.
    def sigMetric(df: DataFrame): (Seq[java.math.BigDecimal], Boolean) = {
      val aggs = ks.map(i =>
        sum(col(s"s$i").cast("decimal(38,0)")).as(s"m$i")) ++
        ks.map(i => min(col(s"s$i")).as(s"mn$i"))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val sums = ks.map(i =>
        Option(r.getDecimal(i)).getOrElse(java.math.BigDecimal.ZERO))
      val nonNeg = ks.forall(i =>
        r.isNullAt(ks.length + i) || r.getLong(ks.length + i) >= 0L)
      (sums, nonNeg)
    }
    var sig = lmkFrame.select($"node" +:
      ks.map(i => when($"node" === lmkIds(i), 1L).as(s"s$i")): _*).ckpt
    var (sigPrev, sigSound) = sigMetric(sig)
    var sigIt = 0
    var sigFixed = false
    while (sigIt < dagIters && !sigFixed) {
      sigIt += 1
      val prevS = sig.select($"node".as("v0") +: ks.map(i => col(s"s$i").as(s"ps$i")): _*)
      // the K pinned marker rows (all-null contributions) ride INTO the
      // aggregate input, so a landmark node always has an output row to
      // pin — one hash aggregate, no re-densify join, no second read of
      // the aggregated relation
      val contrib = dag.join(stateJoin(prevS, bcast), $"v" === $"v0")
        .select($"w".as("node") +: ks.map(i =>
          when(col(s"e$i"), col(s"ps$i")).as(s"c$i")): _*)
        .union(lmkFrame.select($"node" +: ks.map(i =>
          lit(null).cast("long").as(s"c$i")): _*))
      val sAggs = ks.map(i => sum(col(s"c$i")).as(s"cs$i"))
      sig = contrib.groupBy($"node")
        .agg(sAggs.head, sAggs.tail: _*)
        .select($"node" +: ks.map(i =>
          when($"node" === lmkIds(i), 1L).otherwise(col(s"cs$i")).as(s"s$i")): _*)
        .ckpt
      // fixpoint/wrap metric at every round EXCEPT the bound (r19
      // verdict item 3): at sigIt == dagIters the loop exits regardless
      // and nothing after it reads the metric, so that round's action
      // was a pure job barrier — skipping it folds the final σ
      // materialization into the first downstream broadcast build
      // (sv2's), which reads the lazy checkpoint once and leaves blocks
      // for sw2. Per-round guard granularity on every exit-RELEVANT
      // round is unchanged. (A gap-2 batching of the metric — the
      // pagerank pattern — was A/B-measured a wash here: when the
      // fixpoint lands on an unchecked round the loop runs one extra
      // full round, 62→62 jobs with tasks 287→307 and +5 MB shuffle;
      // rejected, r20.)
      if (sigIt < dagIters) {
        val (m, nonNeg) = sigMetric(sig)
        if (!nonNeg || ks.exists(i => m(i).compareTo(sigPrev(i)) < 0))
          sigSound = false
        if (sigSound && m == sigPrev) sigFixed = true else sigPrev = m
      }
    }
    probe("sigma", sigIt)
    // per-edge dependency ratio σv/σw per landmark (null when the edge is
    // not on landmark i's DAG or either σ is outside the σ bound)
    val sv2 = sig.select($"node".as("v2") +: ks.map(i => col(s"s$i").as(s"sv$i")): _*)
    val sw2 = sig.select($"node".as("w2") +: ks.map(i => col(s"s$i").as(s"sw$i")): _*)
    val dagR = dag.join(stateJoin(sv2, bcast), $"v" === $"v2")
      .join(stateJoin(sw2, bcast), $"w" === $"w2")
      .select($"v" +: $"w" +: ks.map(i =>
        when(col(s"e$i") && col(s"sv$i").isNotNull && col(s"sw$i").isNotNull,
          col(s"sv$i").cast("double") / col(s"sw$i").cast("double")).as(s"rt$i")): _*)
      .filter(ks.map(i => col(s"rt$i").isNotNull).reduce(_ || _))
      .ckpt
    // backward δ: bounded synchronous relaxation from δ≡0, re-derived in
    // full each round (not accumulated) — the fixpoint recurrence on a
    // DAG, correct to dagIters levels of descendants. State is SPARSE
    // like σ's: an absent (or null-column) row means δ = 0, coalesced at
    // every use, so no round pays the |V|-row re-densify join of the
    // first cut (one |V|-row LEFT join at the very end emits the full
    // node set instead of ten mid-round ones).
    // δ shares σ's monotone-fixpoint probe: δ_t is a monotone function
    // of δ_{t-1} ≥ 0 (non-negative ratio terms), each round's values are
    // prnd-quantized to 1e-9, and the metric compares the exact
    // floor(·1e9) integers — unchanged sums ⇒ the quantized state is
    // identical ⇒ every later round (and the output, which reads δ
    // through the same quantization) is unchanged.
    def dltMetric(df: DataFrame): Seq[java.math.BigDecimal] = {
      val aggs = ks.map(i =>
        sum(floor(coalesce(col(s"p$i"), lit(0.0)) * lit(1e9) + lit(0.5))
          .cast("decimal(38,0)")).as(s"m$i"))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      ks.map(i => Option(r.getDecimal(i)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var dlt = lmkFrame.select($"node" +: ks.map(i => lit(0.0).as(s"p$i")): _*).ckpt
    var dltPrev = dltMetric(dlt)
    // δ shares σ's decrease guard: its quantized per-column sums are
    // monotone non-decreasing (non-negative ratio terms), so any
    // decrease is corruption evidence (e.g. a divergent upstream σ) —
    // disable the short-circuit and run the full unroll (r15 ADVICE)
    var dltSound = true
    var dltIt = 0
    var dltFixed = false
    while (dltIt < dagIters && !dltFixed) {
      dltIt += 1
      val prevD = dlt.select($"node".as("w3") +: ks.map(i => col(s"p$i").as(s"wp$i")): _*)
      val aggs = ks.map(i => P.dsum(P.prnd(
        col(s"rt$i") * (lit(1.0) + coalesce(col(s"wp$i"), lit(0.0))), 9), 9).as(s"cd$i"))
      dlt = dagR.join(stateJoin(prevD, bcast), $"w" === $"w3", "left")
        .groupBy($"v").agg(aggs.head, aggs.tail: _*)
        .select($"v".as("node") +: ks.map(i => col(s"cd$i").as(s"p$i")): _*)
        .ckpt
      // bound-round metric skip, same argument as the σ loop above: the
      // dagIters-th check can never trigger an exit and is read by
      // nothing afterwards, so the final δ state materializes inside
      // the output join's broadcast build instead of paying its own
      // job barrier. Every exit-relevant round keeps its per-round
      // decrease guard.
      if (dltIt < dagIters) {
        val m = dltMetric(dlt)
        if (ks.exists(i => m(i).compareTo(dltPrev(i)) < 0)) dltSound = false
        if (dltSound && m == dltPrev) dltFixed = true else dltPrev = m
      }
    }
    probe("delta", dltIt)
    // score: Σ over landmarks of δ through the exact floor(·1e9) integer
    // hop (row-wise long adds — associative), v ≠ source masked per
    // column; the oracle sums the identical BIGINT terms over its K rows
    val masked = ks.map(i => when($"node" === lmkIds(i), lit(0L))
      .otherwise(floor(coalesce(col(s"p$i"), lit(0.0)) * lit(1e9) + lit(0.5)).cast("long")))
    nodes.join(stateJoin(dlt, bcast), Seq("node"), "left")
      .select($"node",
        (masked.reduce(_ + _).cast("double") / lit(1e9) / lit(k).cast("double")).as("b"))
  }

  /** Synchronous weighted label propagation — the scalable stand-in for
    * the reference's Louvain community detection
    * (reference: network-analysis/network_analysis.py:180-212). Every
    * round, each node adopts the label with the highest summed edge weight
    * among its neighbors' current labels, ties broken by minimum label —
    * fully deterministic, so the DuckDB oracle can replay it exactly.
    * Same iterate-broadcast-checkpoint skeleton as [[pagerank]]: labels
    * are |V| rows broadcast into the materialized |E| relation, and the
    * two-level aggregation ((node,label) then node) is map-side partial,
    * so each round's shuffle carries candidate-label rows, not edges.
    */
  def communities(u: DataFrame, iters: Int = LpIters,
      stateBroadcast: Boolean = true): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    var lbls = u.select($"node").distinct()
      .select($"node", $"node".as("lbl")).ckpt
    // same size discipline as [[pagerank]]: the count materializes the
    // checkpointed seed labels (a job round 1 pays anyway) and |V|
    // decides broadcast vs shuffled-hash for every round's state join
    val bcast = stateBroadcast && stateHint(lbls.count())
    for (_ <- 1 to iters) {
      val votes = u
        .join(stateJoin(lbls.select($"node".as("nb0"), $"lbl".as("nlbl")), bcast), $"nb" === $"nb0")
        .groupBy($"node", $"nlbl").agg(sum($"weight").as("sc"))
      // min(struct(-score, label)) = the minimum label among the labels of
      // maximal summed weight — the same row the oracle's MAX/MIN pair picks
      lbls = votes.groupBy($"node")
        .agg(min(struct((-$"sc").as("ns"), $"nlbl".as("l"))).as("m"))
        .select($"node", $"m.l".as("lbl"))
        .ckpt
    }
    lbls.withColumnRenamed("lbl", "community")
  }

  // ------------------------------------------------------------ oracle SQL

  private val eSql =
    s"""e AS MATERIALIZED (SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst, COUNT(*) AS weight
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_custkey NOT IN (${ExcludedCustomers.mkString(", ")})
       |    AND l_suppkey NOT IN (${ExcludedSuppliers.mkString(", ")})
       |  GROUP BY 1, 2)""".stripMargin

  /** Numeric-id twin of [[eSql]] under the SAME CTE name `e`, so the
    * unrolled chains (which reference `und` built from `e`) run on
    * BIGINT node ids unchanged — the SQL twin of [[edgesNum]]. Queries
    * using it format node columns with [[fmtNodeSql]] in their final
    * projection.
    */
  private val eNumSql =
    s"""e AS MATERIALIZED (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, COUNT(*) AS weight
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_custkey NOT IN (${ExcludedCustomers.mkString(", ")})
       |    AND l_suppkey NOT IN (${ExcludedSuppliers.mkString(", ")})
       |  GROUP BY 1, 2)""".stripMargin

  private val undSql =
    """und AS MATERIALIZED (SELECT src AS node, dst AS nb, weight FROM e
      |  UNION ALL SELECT dst, src, weight FROM e)""".stripMargin

  private val degSql =
    """deg AS MATERIALIZED (SELECT node, COUNT(*) AS degree, CAST(SUM(weight) AS BIGINT) AS wdegree
      |  FROM und GROUP BY node)""".stripMargin

  /** pr0..prN CTE chain — the 10 unrolled PageRank iterations. */
  private def prChain(iters: Int): String = {
    val base =
      """nodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS c FROM nodes),
        |wdeg AS MATERIALIZED (SELECT node, SUM(weight) AS wd FROM und GROUP BY node),
        |norm AS MATERIALIZED (SELECT u.node AS src, u.nb AS dst, u.weight / w.wd AS p
        |  FROM und u JOIN wdeg w ON u.node = w.node),
        |pr0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT n.node,
         |  CAST($Rest AS DOUBLE) / (SELECT c FROM nn)
         |    + CAST($Damping AS DOUBLE) * COALESCE(s.contrib, CAST(0.0 AS DOUBLE)) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT norm.dst AS node, SUM(pr${i - 1}.r * norm.p) AS contrib
         |    FROM norm JOIN pr${i - 1} ON norm.src = pr${i - 1}.node
         |    GROUP BY norm.dst) s ON n.node = s.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** ev0..evN CTE chain — unrolled (A+I) power iterations, normalized on
    * exactly the rounds [[eigenvector]] normalizes ([[EvNormEvery]]).
    */
  private def evChain(iters: Int): String = {
    def normed(j: Int): Boolean = j == 0 || j % EvNormEvery == 0 || j == iters
    def st(j: Int): String = if (normed(j)) s"ev$j" else s"raw$j"
    val base =
      """evnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
        |evnn AS MATERIALIZED (SELECT COUNT(*) AS c FROM evnodes),
        |ev0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM evnn) AS x FROM evnodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      val raw =
        s"""raw$i AS MATERIALIZED (SELECT p.node, p.x + s.c AS x FROM ${st(i - 1)} p JOIN (
           |    SELECT u.node, SUM(u.weight * q.x) AS c
           |    FROM und u JOIN ${st(i - 1)} q ON u.nb = q.node GROUP BY u.node) s
           |  ON p.node = s.node)""".stripMargin
      if (normed(i))
        raw + s""",
           |ev$i AS MATERIALIZED (SELECT node, x / (SELECT sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)) FROM raw$i) AS x
           |  FROM raw$i)""".stripMargin
      else raw
    }
    (base +: steps).mkString(",\n")
  }

  /** cld0..cldN CTE chain — unrolled synchronous BFS relaxation from the
    * K landmark sources, the SQL twin of [[closeness]].
    */
  private def clChain(k: Int, rounds: Int): String = {
    val base =
      s"""clnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
         |lmk AS MATERIALIZED (SELECT node AS lmk FROM ${lmkSeedSql("und", k)}),
         |cld0 AS MATERIALIZED (SELECT lmk AS node, lmk, 0 AS d FROM lmk)""".stripMargin
    // candidate expansion joins ONLY the previous round's frontier
    // (p.d = i-1): a BFS distance is final the round it is first set,
    // so a non-frontier row p would contribute d = p.d + 1 ≤ i-1, a
    // value already present from an earlier round and absorbed by the
    // MIN — provably redundant join input. Keeps the oracle an honest
    // baseline at K=24 (the full re-expansion form read 7.4s at sf0.1,
    // ~3x this one, all of it re-deriving distances it already had).
    val steps = (1 to rounds).map { i =>
      s"""cld$i AS MATERIALIZED (SELECT x.node, x.lmk, MIN(x.d) AS d FROM (
         |    SELECT node, lmk, d FROM cld${i - 1}
         |    UNION ALL
         |    SELECT u.node, p.lmk, p.d + 1 FROM und u
         |    JOIN cld${i - 1} p ON u.nb = p.node AND p.d = ${i - 1}) x
         |  GROUP BY x.node, x.lmk)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** bf0..bfN + dlN..dl0 CTE chain — unrolled forward-BFS (distance +
    * σ path counts) and backward Brandes dependency levels, the SQL twin
    * of [[betweenness]].
    */
  private def bwChain(k: Int, rounds: Int): String = {
    val base =
      s"""bnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
         |blmk AS MATERIALIZED (SELECT node AS lmk FROM ${lmkSeedSql("und", k)}),
         |bf0 AS MATERIALIZED (SELECT lmk AS node, lmk, 0 AS d, CAST(1 AS BIGINT) AS sig FROM blmk)""".stripMargin
    val fwd = (1 to rounds).map { i =>
      s"""bf${i}c AS MATERIALIZED (SELECT u.node, p.lmk, CAST(SUM(p.sig) AS BIGINT) AS sig
         |  FROM und u JOIN bf${i - 1} p ON u.nb = p.node AND p.d = ${i - 1}
         |  GROUP BY u.node, p.lmk),
         |bf$i AS MATERIALIZED (SELECT node, lmk, d, sig FROM bf${i - 1}
         |  UNION ALL
         |  SELECT c.node, c.lmk, $i AS d, c.sig FROM bf${i}c c
         |  WHERE NOT EXISTS (SELECT 1 FROM bf${i - 1} p
         |    WHERE p.node = c.node AND p.lmk = c.lmk))""".stripMargin
    }
    val dag =
      s"""bdag AS MATERIALIZED (SELECT v.lmk, v.node AS v, v.d AS dv, v.sig AS sv,
         |    w.node AS w, w.sig AS sw
         |  FROM und u
         |  JOIN bf$rounds v ON u.node = v.node
         |  JOIN bf$rounds w ON u.nb = w.node AND w.lmk = v.lmk AND w.d = v.d + 1)""".stripMargin
    val bwdBase =
      s"""dl$rounds AS MATERIALIZED (SELECT node, lmk, CAST(0.0 AS DOUBLE) AS delta
         |  FROM bf$rounds WHERE d = $rounds)""".stripMargin
    val bwd = ((rounds - 1) to 0 by -1).map { r =>
      s"""dl$r AS MATERIALIZED (SELECT g.v AS node, g.lmk,
         |  ${PS.dsum(PS.prnd("(CAST(g.sv AS DOUBLE) / CAST(g.sw AS DOUBLE)) * (CAST(1.0 AS DOUBLE) + COALESCE(d2.delta, CAST(0.0 AS DOUBLE)))", 9), 9)} AS delta
         |  FROM bdag g LEFT JOIN dl${r + 1} d2 ON g.w = d2.node AND g.lmk = d2.lmk
         |  WHERE g.dv = $r
         |  GROUP BY g.v, g.lmk)""".stripMargin
    }
    val unionDl = (0 to rounds).map(r => s"SELECT node, lmk, delta FROM dl$r").mkString(" UNION ALL ")
    val fin =
      s"""bdeltas AS MATERIALIZED (SELECT node, lmk, delta FROM ($unionDl) WHERE node <> lmk),
         |bbc AS MATERIALIZED (SELECT node,
         |  ${PS.dsum("delta", 9)} / CAST($k AS DOUBLE) AS b
         |  FROM bdeltas GROUP BY node)""".stripMargin
    ((base +: fwd) ++ Seq(dag, bwdBase) ++ bwd :+ fin).mkString(",\n")
  }

  /** cw0..cwN CTE chain — unrolled synchronous WEIGHTED (Bellman-Ford)
    * relax rounds from the K landmark sources, the SQL twin of
    * [[weightedDists]] for [[closenessW]]. Per round the (node, lmk)
    * minimum over (previous distances ∪ every neighbor's distance +
    * edge weight) — semantically the full relaxation; the Spark side's
    * changed-frontier delta relaxation produces the identical per-round
    * state (a skipped edge was already relaxed with the same source
    * distance).
    */
  private def cwChain(k: Int, rounds: Int): String = {
    val base =
      s"""cwnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
         |cwlmk AS MATERIALIZED (SELECT node AS lmk FROM ${lmkSeedSql("und", k)}),
         |cw0 AS MATERIALIZED (SELECT lmk AS node, lmk, CAST(0 AS BIGINT) AS d FROM cwlmk)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""cw$i AS MATERIALIZED (SELECT x.node, x.lmk, MIN(x.d) AS d FROM (
         |    SELECT node, lmk, d FROM cw${i - 1}
         |    UNION ALL
         |    SELECT u.node, p.lmk, p.d + u.weight FROM und u JOIN cw${i - 1} p ON u.nb = p.node) x
         |  GROUP BY x.node, x.lmk)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** wd0..wdN + ws0..wsT + wdl0..wdlT CTE chain — unrolled weighted
    * relax rounds, forward σ relaxations and backward δ relaxations,
    * the SQL twin of [[betweennessW]] (row-based (node, lmk) expansion;
    * the Spark side's columnar state is the same recurrence).
    */
  private def bwwChain(k: Int, rounds: Int, dagIters: Int): String = {
    val base =
      s"""wnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
         |wlmk AS MATERIALIZED (SELECT node AS lmk FROM ${lmkSeedSql("und", k)}),
         |wd0 AS MATERIALIZED (SELECT lmk AS node, lmk, CAST(0 AS BIGINT) AS d FROM wlmk)""".stripMargin
    val relax = (1 to rounds).map { i =>
      s"""wd$i AS MATERIALIZED (SELECT x.node, x.lmk, MIN(x.d) AS d FROM (
         |    SELECT node, lmk, d FROM wd${i - 1}
         |    UNION ALL
         |    SELECT u.node, p.lmk, p.d + u.weight FROM und u JOIN wd${i - 1} p ON u.nb = p.node) x
         |  GROUP BY x.node, x.lmk)""".stripMargin
    }
    // DAG edge v→w for landmark l iff d(w) = d(v) + weight(v, w); no DAG
    // edge enters the landmark itself (positive weights), so the pinned
    // σ(lmk)=1 base row never collides with an aggregated row
    val dag =
      s"""wdag AS MATERIALIZED (SELECT v.lmk, v.node AS v, w.node AS w
         |  FROM und u
         |  JOIN wd$rounds v ON u.node = v.node
         |  JOIN wd$rounds w ON u.nb = w.node AND w.lmk = v.lmk AND w.d = v.d + u.weight)""".stripMargin
    val sigBase =
      s"""ws0 AS MATERIALIZED (SELECT lmk AS node, lmk, CAST(1 AS BIGINT) AS sig FROM wlmk)""".stripMargin
    val sig = (1 to dagIters).map { t =>
      s"""ws$t AS MATERIALIZED (
         |  SELECT lmk AS node, lmk, CAST(1 AS BIGINT) AS sig FROM wlmk
         |  UNION ALL
         |  SELECT g.w AS node, g.lmk, CAST(SUM(p.sig) AS BIGINT) AS sig
         |  FROM wdag g JOIN ws${t - 1} p ON g.v = p.node AND g.lmk = p.lmk
         |  GROUP BY g.w, g.lmk)""".stripMargin
    }
    val dagR =
      s"""wdag2 AS MATERIALIZED (SELECT g.lmk, g.v, g.w,
         |    CAST(sv.sig AS DOUBLE) / CAST(sw.sig AS DOUBLE) AS rt
         |  FROM wdag g
         |  JOIN ws$dagIters sv ON g.v = sv.node AND g.lmk = sv.lmk
         |  JOIN ws$dagIters sw ON g.w = sw.node AND g.lmk = sw.lmk)""".stripMargin
    val dltBase =
      s"""wdl0 AS MATERIALIZED (SELECT n.node, l.lmk, CAST(0.0 AS DOUBLE) AS delta
         |  FROM wnodes n CROSS JOIN wlmk l)""".stripMargin
    val dlt = (1 to dagIters).map { t =>
      s"""wdl$t AS MATERIALIZED (SELECT n.node, l.lmk, COALESCE(a.delta, CAST(0.0 AS DOUBLE)) AS delta
         |  FROM wnodes n CROSS JOIN wlmk l
         |  LEFT JOIN (
         |    SELECT g.v AS node, g.lmk,
         |      ${PS.dsum(PS.prnd("g.rt * (CAST(1.0 AS DOUBLE) + d.delta)", 9), 9)} AS delta
         |    FROM wdag2 g JOIN wdl${t - 1} d ON g.w = d.node AND g.lmk = d.lmk
         |    GROUP BY g.v, g.lmk) a ON a.node = n.node AND a.lmk = l.lmk)""".stripMargin
    }
    val fin =
      s"""wbc AS MATERIALIZED (SELECT node,
         |  (CAST(SUM(CASE WHEN node <> lmk THEN CAST(floor(delta * 1e9 + 0.5) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END) AS DOUBLE) / 1e9) / CAST($k AS DOUBLE) AS b
         |  FROM wdl$dagIters GROUP BY node)""".stripMargin
    ((base +: relax) ++ Seq(dag, sigBase) ++ sig ++ Seq(dagR, dltBase) ++ dlt :+ fin)
      .mkString(",\n")
  }

  /** lp0..lpN CTE chain — unrolled synchronous label-propagation rounds,
    * the SQL twin of [[communities]].
    */
  private def lpChain(iters: Int): String = {
    val base =
      """lpnodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
        |lp0 AS MATERIALIZED (SELECT node, node AS lbl FROM lpnodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""v$i AS MATERIALIZED (SELECT u.node, l.lbl, SUM(u.weight) AS sc
         |  FROM und u JOIN lp${i - 1} l ON u.nb = l.node GROUP BY u.node, l.lbl),
         |mx$i AS MATERIALIZED (SELECT node, MAX(sc) AS ms FROM v$i GROUP BY node),
         |lp$i AS MATERIALIZED (SELECT v.node, MIN(v.lbl) AS lbl
         |  FROM v$i v JOIN mx$i m ON v.node = m.node AND v.sc = m.ms GROUP BY v.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Generalized unrolled constrained-Louvain local-move sweep chain —
    * the SQL twin of [[louvainSweepLoop]] over an arbitrary (und, deg)
    * graph relation. `pfx` namespaces the CTEs (labels land in
    * `<pfx>v0..<pfx>vN`), `baseSelect` seeds `<pfx>v0 (node, c)`, and
    * `tw` must be in scope (2m is a LEVEL-INVARIANT of the coarsening:
    * contracting communities preserves total edge weight, so every
    * level's gain scores use the same w2). Sweep i derives
    * per-community totals (<pfx>ct), neighbor-community weights
    * (<pfx>cd — self rows excluded: a coarse super-node's self-loop is
    * internal weight, not a neighbor edge), the argmax move under the
    * move-down-only constraint (<pfx>mv), the move count (<pfx>mvd),
    * and the next label set. The `u.node <> u.nb` filter is vacuous on
    * the base bipartite graph (even/odd id encoding) and load-bearing
    * on coarse graphs, whose contraction emits self-loop rows.
    */
  private def lvChainOver(pfx: String, und: String, deg: String,
      baseSelect: String, sweeps: Int): String = {
    val base = s"${pfx}v0 AS MATERIALIZED ($baseSelect)"
    val steps = (1 to sweeps).map { i =>
      s"""${pfx}ct$i AS MATERIALIZED (SELECT l.c AS community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
         |  FROM ${pfx}v${i - 1} l JOIN $deg d USING (node) GROUP BY l.c),
         |${pfx}cd$i AS MATERIALIZED (SELECT node, c, CAST(SUM(wnc) AS BIGINT) AS wnc FROM (
         |    SELECT u.node, lb.c, u.weight AS wnc
         |    FROM $und u JOIN ${pfx}v${i - 1} lb ON u.nb = lb.node WHERE u.node <> u.nb
         |    UNION ALL SELECT node, c, 0 AS wnc FROM ${pfx}v${i - 1}) t
         |  GROUP BY node, c),
         |${pfx}mv$i AS MATERIALIZED (SELECT node, a, CASE WHEN c < a THEN c ELSE a END AS c FROM (
         |    SELECT cd.node, la.c AS a, cd.c,
         |      row_number() OVER (PARTITION BY cd.node ORDER BY
         |        (w.w2 * cd.wnc - d.wdegree *
         |          (ct.wtot - CASE WHEN cd.c = la.c THEN d.wdegree ELSE 0 END)) DESC,
         |        CASE WHEN cd.c = la.c THEN 0 ELSE 1 END,
         |        cd.c) AS rn
         |    FROM ${pfx}cd$i cd
         |    JOIN ${pfx}v${i - 1} la ON la.node = cd.node
         |    JOIN ${pfx}ct$i ct ON ct.community = cd.c
         |    JOIN $deg d ON d.node = cd.node, tw w) x
         |  WHERE rn = 1),
         |${pfx}mvd$i AS MATERIALIZED (SELECT CAST(SUM(CASE WHEN c <> a THEN 1 ELSE 0 END) AS BIGINT) AS n_moved FROM ${pfx}mv$i),
         |${pfx}v$i AS MATERIALIZED (SELECT node, c FROM ${pfx}mv$i)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** lv0..lvN CTE chain — the base-graph instance of [[lvChainOver]]
    * (label CTEs keep their historical `lv<i>` names), seeded from the
    * LPA labels. Requires `und`, `deg`, `tw` and `lp\$LpIters` CTEs in
    * scope.
    */
  private def lvChain(sweeps: Int): String =
    lvChainOver("l", "und", "deg",
      s"SELECT node, lbl AS c FROM lp$LpIters", sweeps)

  /** Numeric-id edge CTEs — the SQL twin of [[numericUnd]]. */
  private val ccNumSql =
    s"""en AS MATERIALIZED (SELECT o_custkey * 2 AS node, l_suppkey * 2 + 1 AS nb
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_custkey NOT IN (${ExcludedCustomers.mkString(", ")})
       |    AND l_suppkey NOT IN (${ExcludedSuppliers.mkString(", ")})),
       |undn AS MATERIALIZED (SELECT node, nb FROM en
       |  UNION ALL SELECT nb, node FROM en)""".stripMargin

  /** SQL twin of [[fmtNode]]. */
  private def fmtNodeSql(col: String): String =
    s"((CASE WHEN $col % 2 = 0 THEN 'c' ELSE 's' END) || CAST(($col >> 1) AS VARCHAR))"

  /** cc0..ccN CTE chain — unrolled synchronous min-label rounds over the
    * numeric-id edge view, the SQL twin of [[components]] on
    * [[numericUnd]]. Bounded per-round |V|-row state, unlike a recursive
    * CTE whose UNION accumulates every (node, label) pair ever seen —
    * quadratic on a connected graph, which is why the r4 oracle
    * denominator for gr_components never returned at sf0.1. Equals the
    * fixpoint whenever labels stop moving within `rounds` (measured:
    * change stops after round 4 at sf0.1, see [[CcUncheckedRounds]]).
    */
  private def ccChain(rounds: Int): String = {
    val base =
      """nodes2 AS MATERIALIZED (SELECT DISTINCT node FROM undn),
        |cc0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes2)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""cc$i AS MATERIALIZED (SELECT x.node, MIN(x.lbl) AS lbl FROM (
         |    SELECT node, lbl FROM cc${i - 1}
         |    UNION ALL
         |    SELECT u.node, c.lbl FROM undn u JOIN cc${i - 1} c ON u.nb = c.node) x
         |  GROUP BY x.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  // --------------------------------------------------------------- queries

  val grEdges = QueryDef(
    "gr_edges",
    s"""WITH $eSql
       |SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM e
       |ORDER BY src, dst""".stripMargin) { (s, dir) =>
    edges(s, dir).orderBy("src", "dst")
  }

  val grDegree = QueryDef(
    "gr_degree",
    s"""WITH $eNumSql, $undSql, $degSql
       |SELECT ${fmtNodeSql("node")} AS node, degree, wdegree
       |FROM deg ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    degrees(undirected(edgesNum(s, dir)))
      .select(fmtNode($"node").as("node"), $"degree", $"wdegree")
      .orderBy("node")
  }

  /** Directed in/out-degree: the reference keeps a directed reply graph
    * next to the undirected one (network_analysis.py:42-121); here the
    * order direction customer→supplier is the directed edge set, so
    * customers carry out-degree and suppliers in-degree.
    */
  val grDegreeDirected = QueryDef(
    "gr_degree_directed",
    s"""WITH $eNumSql,
       |outd AS MATERIALIZED (SELECT src AS node, COUNT(*) AS out_degree,
       |    CAST(SUM(weight) AS BIGINT) AS out_weight FROM e GROUP BY src),
       |ind AS MATERIALIZED (SELECT dst AS node, COUNT(*) AS in_degree,
       |    CAST(SUM(weight) AS BIGINT) AS in_weight FROM e GROUP BY dst)
       |SELECT ${fmtNodeSql("COALESCE(o.node, i.node)")} AS node,
       |  COALESCE(o.out_degree, 0) AS out_degree,
       |  COALESCE(o.out_weight, 0) AS out_weight,
       |  COALESCE(i.in_degree, 0) AS in_degree,
       |  COALESCE(i.in_weight, 0) AS in_weight
       |FROM outd o FULL JOIN ind i ON o.node = i.node
       |ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    // edgesNum is already the shared materialization — both aggregations
    // read the same blocks
    val e = edgesNum(s, dir)
    val outd = e.groupBy($"src")
      .agg(P.cnt.as("out_degree"), sum($"weight").as("out_weight"))
      .withColumnRenamed("src", "node")
    val ind = e.groupBy($"dst")
      .agg(P.cnt.as("in_degree"), sum($"weight").as("in_weight"))
      .withColumnRenamed("dst", "node")
    outd.join(ind, Seq("node"), "full_outer")
      .select(fmtNode($"node").as("node"),
        coalesce($"out_degree", lit(0L)).as("out_degree"),
        coalesce($"out_weight", lit(0L)).as("out_weight"),
        coalesce($"in_degree", lit(0L)).as("in_degree"),
        coalesce($"in_weight", lit(0L)).as("in_weight"))
      .orderBy("node")
  }

  /** Degree-bucket histogram — the dashboard's connection-distribution
    * panel (reference: dashboard/dashboard.py:905-918: super-connected >10,
    * well-connected 5-10, connected 2-5, isolated 0-1). One CASE over the
    * degree aggregate, so the whole query is two partial aggregations —
    * scan-bound at any SF.
    */
  val grDegreeBuckets = QueryDef(
    "gr_degree_buckets",
    s"""WITH $eNumSql, $undSql, $degSql
       |SELECT CASE WHEN degree > 10 THEN 'super_connected'
       |    WHEN degree >= 5 THEN 'well_connected'
       |    WHEN degree >= 2 THEN 'connected'
       |    ELSE 'isolated' END AS bucket,
       |  COUNT(*) AS n_nodes,
       |  CAST(SUM(degree) AS BIGINT) AS total_degree,
       |  CAST(SUM(wdegree) AS BIGINT) AS total_wdegree
       |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
    import s.implicits._
    degrees(undirected(edgesNum(s, dir)))
      .select(
        when($"degree" > 10, "super_connected")
          .when($"degree" >= 5, "well_connected")
          .when($"degree" >= 2, "connected")
          .otherwise("isolated").as("bucket"),
        $"degree", $"wdegree")
      .groupBy($"bucket")
      .agg(P.cnt.as("n_nodes"),
        sum($"degree").as("total_degree"),
        sum($"wdegree").as("total_wdegree"))
      .orderBy($"bucket")
  }

  /** Oracle CTE chain for the full PageRank build (e, und, pr0..prN) and
    * its final CTE name — exposed (r18) so the composed `ops_day` oracle
    * can pin the served-graph PageRank against the full rebuild.
    */
  private[operators] def pagerankSqlChain: String =
    s"$eNumSql, $undSql,\n${prChain(PrIters)}"
  private[operators] def pagerankFinalCte: String = s"pr$PrIters"

  val grPagerank = QueryDef(
    "gr_pagerank",
    s"""WITH $eNumSql, $undSql,
       |${prChain(PrIters)}
       |SELECT ${fmtNodeSql("node")} AS node, ${PS.prnd("r", 8)} AS pagerank
       |FROM pr$PrIters ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    pagerank(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"r", 8).as("pagerank"))
      .orderBy($"node")
  }

  val grEigenvector = QueryDef(
    "gr_eigenvector",
    s"""WITH $eNumSql, $undSql,
       |${evChain(PrIters)}
       |SELECT ${fmtNodeSql("node")} AS node, ${PS.prnd("x", 8)} AS eigenvector
       |FROM ev$PrIters ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    eigenvector(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"x", 8).as("eigenvector"))
      .orderBy($"node")
  }

  /** The oracle's WHERE clause is a convergence ASSERTION: the Spark side
    * converges to the exact fixpoint (check loop), while the oracle runs a
    * fixed unroll — if labels were still moving in the last unrolled
    * round, the oracle returns ZERO rows and the correctness gate fails
    * loudly instead of silently comparing against a stale-label oracle.
    * The unroll runs ONE round past [[CcUncheckedRounds]] and compares
    * the last two: asserting within the unchecked-round count itself
    * would demand convergence one round EARLIER than the Spark loop needs
    * (a graph converging exactly in the final unchecked round is correct
    * on the Spark side but would spuriously zero the old oracle).
    */
  val grComponents = QueryDef(
    "gr_components",
    s"""WITH $ccNumSql, ${ccChain(CcUncheckedRounds + 1)}
       |SELECT ${fmtNodeSql("node")} AS node, ${fmtNodeSql("lbl")} AS comp
       |FROM cc${CcUncheckedRounds + 1}
       |WHERE (SELECT COUNT(*) FROM cc$CcUncheckedRounds p
       |  JOIN cc${CcUncheckedRounds + 1} c ON p.node = c.node AND p.lbl <> c.lbl) = 0
       |ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    components(sharedUndCc(s, dir))
      .select(fmtNode($"node").as("node"), fmtNode($"comp").as("comp"))
      .orderBy("node")
  }

  /** Min-max-normalized composite influencer score, top 20
    * (network_analysis.py:214-254; weights re-normalized over the three
    * scalable metrics: degree .3, weighted degree .3, pagerank .4).
    */
  val grInfluencers = QueryDef(
    "gr_influencers",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${prChain(PrIters)},
       |met AS MATERIALIZED (SELECT d.node, CAST(d.degree AS DOUBLE) AS dg,
       |    CAST(d.wdegree AS DOUBLE) AS wd, p.r AS pr
       |  FROM deg d JOIN pr$PrIters p ON d.node = p.node),
       |st AS MATERIALIZED (SELECT min(dg) AS mind, max(dg) AS maxd, min(wd) AS minw,
       |    max(wd) AS maxw, min(pr) AS minp, max(pr) AS maxp FROM met)
       |SELECT ${fmtNodeSql("node")} AS node, floor((
       |    CAST(0.3 AS DOUBLE) * (CASE WHEN maxd = mind THEN CAST(0.0 AS DOUBLE) ELSE (dg - mind) / (maxd - mind) END)
       |  + CAST(0.3 AS DOUBLE) * (CASE WHEN maxw = minw THEN CAST(0.0 AS DOUBLE) ELSE (wd - minw) / (maxw - minw) END)
       |  + CAST(0.4 AS DOUBLE) * (CASE WHEN maxp = minp THEN CAST(0.0 AS DOUBLE) ELSE (pr - minp) / (maxp - minp) END)) * 1e8 + 0.5) / 1e8 AS score
       |FROM met, st
       |ORDER BY score DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
    import s.implicits._
    // one materialization shared by the degree aggregation and pagerank
    val u = sharedUnd(s, dir)
    val met = degrees(u)
      .join(pagerank(u), "node")
      .select($"node", $"degree".cast("double").as("dg"),
        $"wdegree".cast("double").as("wd"), $"r".as("pr"))
    val st = met.agg(
      min($"dg").as("mind"), max($"dg").as("maxd"),
      min($"wd").as("minw"), max($"wd").as("maxw"),
      min($"pr").as("minp"), max($"pr").as("maxp"))
    def mm(x: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column) =
      when(hi === lo, lit(0.0)).otherwise((x - lo) / (hi - lo))
    met.crossJoin(broadcast(st))
      .select(fmtNode($"node").as("node"), P.prnd(
        lit(0.3) * mm($"dg", $"mind", $"maxd")
          + lit(0.3) * mm($"wd", $"minw", $"maxw")
          + lit(0.4) * mm($"pr", $"minp", $"maxp"), 8).as("score"))
      .orderBy($"score".desc, $"node").limit(20)
  }

  /** Landmark-closeness query — see [[closeness]]. */
  val grCloseness = QueryDef(
    "gr_closeness",
    s"""WITH $eNumSql, $undSql,
       |${clChain(ClLandmarks, ClRounds)}
       |SELECT ${fmtNodeSql("n.node")} AS node,
       |  ${PS.prnd(s"CAST($ClLandmarks AS DOUBLE) / CAST(SUM(COALESCE(d.d, ${ClRounds + 1})) AS DOUBLE)", 8)} AS closeness
       |FROM clnodes n CROSS JOIN lmk l
       |LEFT JOIN cld$ClRounds d ON d.node = n.node AND d.lmk = l.lmk
       |GROUP BY n.node ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    closeness(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"c", 8).as("closeness"))
      .orderBy($"node")
  }

  /** Landmark-betweenness query — see [[betweenness]]. */
  val grBetweenness = QueryDef(
    "gr_betweenness_approx",
    s"""WITH $eNumSql, $undSql,
       |${bwChain(BwLandmarks, BwRounds)}
       |SELECT ${fmtNodeSql("n.node")} AS node, ${PS.prnd("COALESCE(b.b, CAST(0.0 AS DOUBLE))", 6)} AS betweenness
       |FROM bnodes n LEFT JOIN bbc b ON n.node = b.node
       |ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    betweenness(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"b", 6).as("betweenness"))
      .orderBy($"node")
  }

  /** Weighted-distance landmark closeness — see [[closenessW]]. */
  val grClosenessW = QueryDef(
    "gr_closeness_w",
    s"""WITH $eNumSql, $undSql,
       |${cwChain(ClLandmarks, ClWRounds)}
       |SELECT ${fmtNodeSql("n.node")} AS node,
       |  ${PS.prnd(s"CAST($ClLandmarks AS DOUBLE) / CAST(SUM(CASE WHEN d.d IS NULL OR d.d > $ClWCap THEN $ClWCap ELSE d.d END) AS DOUBLE)", 8)} AS closeness_w
       |FROM cwnodes n CROSS JOIN cwlmk l
       |LEFT JOIN cw$ClWRounds d ON d.node = n.node AND d.lmk = l.lmk
       |GROUP BY n.node ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    closenessW(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"c", 8).as("closeness_w"))
      .orderBy($"node")
  }

  /** Weighted-distance landmark betweenness — see [[betweennessW]]. */
  val grBetweennessW = QueryDef(
    "gr_betweenness_w",
    s"""WITH $eNumSql, $undSql,
       |${bwwChain(BwLandmarks, BwWRounds, BwWDagIters)}
       |SELECT ${fmtNodeSql("n.node")} AS node, ${PS.prnd("COALESCE(b.b, CAST(0.0 AS DOUBLE))", 6)} AS betweenness_w
       |FROM wnodes n LEFT JOIN wbc b ON n.node = b.node
       |ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    betweennessW(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), P.prnd($"b", 6).as("betweenness_w"))
      .orderBy($"node")
  }

  /** Per-node community label from synchronous label propagation. */
  val grCommunities = QueryDef(
    "gr_communities",
    s"""WITH $eNumSql, $undSql,
       |${lpChain(LpIters)}
       |SELECT ${fmtNodeSql("node")} AS node, ${fmtNodeSql("lbl")} AS community
       |FROM lp$LpIters ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    communities(sharedUnd(s, dir))
      .select(fmtNode($"node").as("node"), fmtNode($"community").as("community"))
      .orderBy("node")
  }

  /** Per-community member count / total degree / mean degree / weight —
    * aggregated over label-propagation communities (the reference's
    * community-size table, network_analysis.py:180-212). Previously this
    * ran over connected components, which is degenerate here: the graph
    * has exactly one component, so the table had a single all-nodes row.
    */
  val grCommunityStats = QueryDef(
    "gr_community_stats",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)}
       |SELECT ${fmtNodeSql("lbl")} AS community, COUNT(*) AS n_members,
       |  CAST(SUM(degree) AS BIGINT) AS total_degree,
       |  ${PS.prnd("CAST(SUM(degree) AS DOUBLE) / COUNT(*)", 6)} AS avg_degree,
       |  CAST(SUM(wdegree) AS BIGINT) AS total_wdegree
       |FROM lp$LpIters JOIN deg USING (node)
       |GROUP BY lbl ORDER BY community""".stripMargin) { (s, dir) =>
    import s.implicits._
    // one materialization shared by label propagation and the degree agg
    val u = sharedUnd(s, dir)
    communities(u).join(degrees(u), "node")
      .groupBy($"community")
      .agg(P.cnt.as("n_members"),
        sum($"degree").as("total_degree"),
        P.prnd(sum($"degree").cast("double") / count(lit(1)), 6).as("avg_degree"),
        sum($"wdegree").as("total_wdegree"))
      .select(fmtNode($"community").as("community"), $"n_members",
        $"total_degree", $"avg_degree", $"total_wdegree")
      .orderBy($"community")
  }

  /** Named top-10 community panel — the reference's `name_community`
    * presentation layer (dashboard/dashboard.py:459-487): the ten largest
    * communities, each with a size tier (>=25 members large, >=15 medium,
    * else small — the reference's absolute thresholds) and a display name
    * built from the community id and tier; engagement is the summed
    * weighted degree (the total_score analog on this graph). Scale shape:
    * the same LPA labels + degree aggregation as [[grCommunityStats]]
    * (community-cardinality shuffle, map-side partials) followed by a
    * top-10 limit — TakeOrderedAndProject, never a global sort of the
    * community table.
    */
  val grCommunityNames = QueryDef(
    "gr_community_names",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)},
       |cstat AS MATERIALIZED (SELECT ${fmtNodeSql("lbl")} AS community,
       |    COUNT(*) AS n_members, CAST(SUM(wdegree) AS BIGINT) AS engagement
       |  FROM lp$LpIters JOIN deg USING (node) GROUP BY 1),
       |tiered AS MATERIALIZED (SELECT community, n_members, engagement,
       |    CASE WHEN n_members >= 25 THEN 'large'
       |      WHEN n_members >= 15 THEN 'medium' ELSE 'small' END AS tier
       |  FROM cstat)
       |SELECT community, n_members, engagement, tier,
       |  'Community #' || community || ' (' || tier || ')' AS name
       |FROM tiered ORDER BY n_members DESC, community LIMIT 10""".stripMargin) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val tier = when($"n_members" >= 25, "large")
      .when($"n_members" >= 15, "medium").otherwise("small")
    communities(u).join(degrees(u), "node")
      .groupBy(fmtNode($"community").as("community"))
      .agg(P.cnt.as("n_members"), sum($"wdegree").as("engagement"))
      .select($"community", $"n_members", $"engagement", tier.as("tier"),
        concat(lit("Community #"), $"community", lit(" ("), tier, lit(")")).as("name"))
      .orderBy($"n_members".desc, $"community").limit(10)
  }

  /** Weighted modularity of the label-propagation partition — the
    * community-quality signal the reference's Louvain panel reports
    * (network_analysis.py:194-208: louvain returns the partition that
    * maximizes exactly this objective; we report Q for the LPA labels).
    * Q = Σ_c [win_c/2m − (wtot_c/2m)²] with win_c = internal weight of c
    * counted in both directions, wtot_c = Σ weighted degree over c's
    * members, 2m = Σ weight over the undirected relation. All three are
    * EXACT BIGINTs (weights are counts), so the only fp ops are the final
    * per-community divisions — rounded portably and summed through an
    * exact decimal, hash-identical across engines. Scale shape: two
    * size-driven [[stateJoin]] label joins over the cached edge relation
    * (broadcast at bench SF, shuffled-hash once |V| outgrows
    * [[StateBroadcastMaxRows]] — the 100 TB regime) + two keyed
    * aggregations at community cardinality; no new iteration, LPA labels
    * unchanged.
    */
  val grModularity = QueryDef(
    "gr_modularity",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)},
       |tw AS MATERIALIZED (SELECT CAST(SUM(weight) AS BIGINT) AS w2 FROM und),
       |cin AS MATERIALIZED (SELECT ln.lbl AS community, CAST(SUM(u.weight) AS BIGINT) AS win
       |  FROM und u
       |  JOIN lp$LpIters ln ON u.node = ln.node
       |  JOIN lp$LpIters lb ON u.nb = lb.node AND lb.lbl = ln.lbl
       |  GROUP BY ln.lbl),
       |ctot AS MATERIALIZED (SELECT l.lbl AS community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
       |  FROM lp$LpIters l JOIN deg d USING (node) GROUP BY l.lbl),
       |qc AS MATERIALIZED (SELECT t.community,
       |    ${PS.prnd("COALESCE(i.win, 0) / CAST(w.w2 AS DOUBLE) - (t.wtot / CAST(w.w2 AS DOUBLE)) * (t.wtot / CAST(w.w2 AS DOUBLE))", 12)} AS q
       |  FROM ctot t LEFT JOIN cin i ON i.community = t.community, tw w)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  ${PS.prnd(PS.dsum("q", 12), 8)} AS modularity
       |FROM qc""".stripMargin) { (s, dir) =>
    import s.implicits._
    // one materialization shared by LPA, the degree agg, and the two
    // label joins below
    val u = sharedUnd(s, dir)
    val lbl = communities(u).ckpt
    // ONE deliberate driver action (same discipline as [[pagerank]]): it
    // materializes the checkpointed labels in a job the first join pays
    // anyway, and |V| drives the broadcast-vs-shuffled-hash choice for
    // every label join below — labels are a DATA-SCALING relation, so an
    // unconditional broadcast would be a driver OOM at 100 TB.
    val bcast = stateHint(lbl.count())
    val tw = u.agg(sum($"weight").as("w2"))
    // the internal-weight join streams |E| once (no shuffle on the
    // broadcast path), and the per-community aggregate is map-side
    // partial at community cardinality — see [[modularityOf]]
    modularityOf(u, degrees(u), lbl, tw, bcast)
  }

  /** Constrained local-move sweep chain to convergence over an arbitrary
    * (und, deg) graph — the shared move phase of [[grLouvain]] (base
    * graph) and [[grLouvainMl]] (base + coarse levels). Per sweep every
    * node simultaneously evaluates moving to each NEIGHBORING community
    * with the exact-BIGINT isolated-node gain and the move-down-only
    * symmetry constraint (see [[grLouvain]]); sweeps stop at the first
    * zero-move fixed point or `cap`. Self rows (`node = nb`) are
    * excluded from the neighbor-weight candidates — vacuous on the base
    * bipartite graph, load-bearing on COARSE graphs, where contraction
    * emits self-loop rows that are internal weight, not neighbor edges
    * (their weight still counts in `deg`, as in standard Louvain).
    * Returns (labels `(node, community)`, total nodes moved, sweeps
    * that moved ≥1 node). One localCheckpoint + count action per sweep
    * (the pagerank discipline).
    */
  private def louvainSweepLoop(u: DataFrame, deg: DataFrame, lbl0: DataFrame,
      w2df: DataFrame, bcast: Boolean, cap: Int): (DataFrame, Long, Long) = {
    val s = u.sparkSession
    import s.implicits._
    var lbl = lbl0
    var movedTotal = 0L
    var sweepsWithMoves = 0L
    var converged = false
    var sweep = 0
    while (sweep < cap && !converged) {
      sweep += 1
      val ctot = lbl.join(deg, "node")
        .groupBy($"community").agg(sum($"wdegree").as("wtot"))
      val cand = u
        .filter($"node" =!= $"nb")
        .join(stateJoin(lbl.select($"node".as("nb2"), $"community".as("c")), bcast), $"nb" === $"nb2")
        .select($"node", $"c", $"weight".as("wnc"))
        .union(lbl.select($"node", $"community".as("c"), lit(0L).as("wnc")))
        .groupBy($"node", $"c").agg(sum($"wnc").as("wnc"))
      // argmax as a hash aggregate: min(struct(-score, own-last, c))
      // picks the same row as the oracle's row_number over (score DESC,
      // own-first, c) — map-side partials, no per-node sort
      val mv = cand
        .join(stateJoin(lbl.select($"node".as("n0"), $"community".as("a")), bcast), $"node" === $"n0")
        .join(stateJoin(ctot.select($"community".as("c"), $"wtot"), bcast), "c")
        .join(stateJoin(deg.select($"node".as("n1"), $"wdegree".as("dn")), bcast), $"node" === $"n1")
        .crossJoin(broadcast(w2df))
        .select($"node", $"a", $"c",
          ($"w2" * $"wnc" - $"dn" *
            ($"wtot" - when($"c" === $"a", $"dn").otherwise(lit(0L)))).as("score"))
        .groupBy($"node", $"a")
        .agg(min(struct((-$"score").as("ns"),
          when($"c" === $"a", 0).otherwise(1).as("t"), $"c".as("l"))).as("m"))
        .select($"node", $"a",
          when($"m.l" < $"a", $"m.l").otherwise($"a").as("c"))
        .ckpt
      // the one driver action per sweep — materializes the checkpoint
      // and decides convergence (a fixed point: zero moves ⇒ every
      // later sweep is identical, matching the oracle's static unroll)
      val moved = mv.filter($"c" =!= $"a").count()
      movedTotal += moved
      if (moved > 0) sweepsWithMoves += 1 else converged = true
      lbl = mv.select($"node", $"c".as("community"))
    }
    (lbl, movedTotal, sweepsWithMoves)
  }

  /** Session-shared LPA labels (node, community) — consumed by the lv1
    * sweep seed, the seeded-schedule seed, and the quality panel's lpa
    * row: one LpIters run per (session, corpus), not one per consumer
    * (r17 review: the panel's cold path otherwise ran LPA twice
    * back-to-back — once for its own row, once inside lvSeedM's build).
    */
  private def lpaM(s: SparkSession, dir: String, u: DataFrame,
      bcast: Boolean): DataFrame =
    MatStore.of(s, s"gr_lpa:$dir")(communities(u, stateBroadcast = bcast))

  /** Session-shared LEVEL-1 sweep result — the LPA-seeded constrained
    * sweep chain to convergence, consumed by BOTH [[grLouvain]] (which
    * reports it) and [[grLouvainMl]] (which coarsens from it): one
    * train-once artifact, two consumers, the MatStore discipline every
    * other shared build follows (re-running ~3s of identical sweeps per
    * consumer would double the family's bench cost for nothing). The
    * sweep telemetry (total moves, moving sweeps) rides the relation as
    * two constant columns so the memo stays a single DataFrame.
    */
  private def lv1M(s: SparkSession, dir: String, u: DataFrame,
      deg: DataFrame, bcast: Boolean, w2df: DataFrame): DataFrame = {
    import s.implicits._
    MatStore.of(s, s"gr_lv1:$dir") {
      val lbl0 = lpaM(s, dir, u, bcast)
      val (lbl, moved, sweeps) =
        louvainSweepLoop(u, deg, lbl0, w2df, bcast, LvSweeps)
      lbl.select($"node", $"community",
        lit(moved).as("n_moved"), lit(sweeps).as("n_sweeps"))
    }
  }

  /** The publishable form of the level-1 sweep artifact (see [[lv1M]]) —
    * what [[graft.sources.IndexStore.publishCorpus]] trains, so a
    * serving session reads the converged labels from the bucketed store
    * instead of re-running the sweep loop (the same train-once/
    * serve-many arc as the k-means model and the signature store).
    */
  def lv1Artifact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = sharedUnd(s, dir)
    val deg = degrees(u).ckpt
    val bcast = stateHint(deg.count())
    val w2df = u.agg(sum($"weight").as("w2"))
    lv1M(s, dir, u, deg, bcast, w2df)
  }

  /** Constrained Louvain local-move sweeps, iterated to convergence —
    * the move phase of the reference's community detection
    * (network_analysis.py:194: louvain greedily maximizes modularity by
    * such moves, repeated until no node moves). Per sweep every node
    * simultaneously evaluates moving to each NEIGHBORING community c
    * with the standard isolated-node gain ΔQ(c) ∝ 2m·w(n→c) −
    * deg(n)·wtot'(c) (wtot' removes n from its own community first) —
    * all EXACT BIGINT terms, so the argmax (ties → smallest community
    * id) is engine-portable with no float compare. Synchronous
    * mass-moves oscillate unconstrained (measured: Q dropped −0.315 →
    * −0.462 at sf0.01), so each sweep applies the symmetry-breaking
    * constraint — a node only moves to a community with a SMALLER id
    * and stays on score ties — which both prevents two communities
    * swapping into each other AND makes labels monotonically
    * non-increasing, guaranteeing the sweep loop terminates. Sweeps
    * repeat until a sweep moves zero nodes or [[LvSweeps]]; the oracle
    * unrolls all [[LvSweeps]] statically (trailing no-op sweeps are
    * fixed points — see [[LvSweeps]]). Output: refined community
    * count, total nodes moved, sweeps that moved ≥1 node, and the
    * refined partition's modularity Q (same exact-arithmetic formula
    * as [[grModularity]]). On a corpus with no assortative structure
    * (this dense quasi-random bipartite graph: every split scores
    * Q < 0) the converged sweeps legitimately merge everything —
    * measured at sf0.01: 44 LPA communities at Q = −0.315 → 1
    * community at Q = 0.0 in 2 moving sweeps, the configuration-model
    * optimum. Alternating-direction and parity-colored variants were
    * measured too (tools-level DuckDB sim): alternation oscillates
    * forever at worse Q, coloring collapses identically — the
    * down-only rule is the one that both terminates and maximizes Q
    * here. [[grCommunities]] (LPA) stays the dashboard's segmentation
    * view.
    *
    * Scale shape per sweep: size-driven [[stateJoin]]s of the |V|-row
    * label/degree and |C|-row community-total relations into the cached
    * edge relation (broadcast at bench SF, shuffled-hash when |V|
    * outgrows [[StateBroadcastMaxRows]] — nothing data-scaling is ever
    * unconditionally collected to the driver), a map-side-combined
    * (node, community) candidate aggregation, and an argmax as a hash
    * aggregate (`min(struct(-score, tie, c))` — no window sort), then
    * one localCheckpoint + move-count action per sweep (the pagerank
    * per-round discipline). Only the 1-row total-weight relation is
    * unconditionally broadcast.
    */
  val grLouvain = QueryDef(
    "gr_louvain",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)},
       |tw AS MATERIALIZED (SELECT CAST(SUM(weight) AS BIGINT) AS w2 FROM und),
       |${lvChain(LvSweeps)},
       |cin2 AS MATERIALIZED (SELECT a1.c AS community, CAST(SUM(u.weight) AS BIGINT) AS win
       |  FROM und u
       |  JOIN lv$LvSweeps a1 ON u.node = a1.node
       |  JOIN lv$LvSweeps a2 ON u.nb = a2.node AND a2.c = a1.c
       |  GROUP BY a1.c),
       |ctot2 AS MATERIALIZED (SELECT m.c AS community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
       |  FROM lv$LvSweeps m JOIN deg d USING (node) GROUP BY m.c),
       |qc2 AS MATERIALIZED (SELECT t.community,
       |    ${PS.prnd("COALESCE(i.win, 0) / CAST(w.w2 AS DOUBLE) - (t.wtot / CAST(w.w2 AS DOUBLE)) * (t.wtot / CAST(w.w2 AS DOUBLE))", 12)} AS q
       |  FROM ctot2 t LEFT JOIN cin2 i ON i.community = t.community, tw w)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(${(1 to LvSweeps).map(i => s"(SELECT n_moved FROM lmvd$i)").mkString(" + ")} AS BIGINT) AS n_moved,
       |  CAST(${(1 to LvSweeps).map(i => s"(CASE WHEN (SELECT n_moved FROM lmvd$i) > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_sweeps,
       |  ${PS.prnd(PS.dsum("q", 12), 8)} AS modularity
       |FROM qc2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val deg = degrees(u).ckpt
    // ONE count action: materializes deg (a job the first sweep pays
    // anyway) and |V| drives every state-join choice below
    val bcast = stateHint(deg.count())
    val w2df = u.agg(sum($"weight").as("w2"))
    val lv1 = lv1M(s, dir, u, deg, bcast, w2df)
    val lbl = lv1.select($"node", $"community")
    // the telemetry constants ride the shared relation; one 1-row read
    // (empty graph ⇒ zero moves, zero sweeps)
    val meta = lv1.select($"n_moved", $"n_sweeps").limit(1).collect()
    val movedTotal = if (meta.isEmpty) 0L else meta(0).getLong(0)
    val sweepsWithMoves = if (meta.isEmpty) 0L else meta(0).getLong(1)
    val cin2 = u
      .join(stateJoin(lbl.select($"node".as("m1"), $"community".as("c1")), bcast), $"node" === $"m1")
      .join(stateJoin(lbl.select($"node".as("m2"), $"community".as("c2")), bcast),
        $"nb" === $"m2" && $"c2" === $"c1")
      .groupBy($"c1".as("community")).agg(sum($"weight").as("win"))
    val ctot2 = lbl.join(deg, "node")
      .groupBy($"community").agg(sum($"wdegree").as("wtot"))
    ctot2.join(cin2, Seq("community"), "left")
      .crossJoin(broadcast(w2df))
      .select(P.prnd(
        coalesce($"win", lit(0L)) / $"w2".cast("double")
          - ($"wtot" / $"w2".cast("double")) * ($"wtot" / $"w2".cast("double")), 12).as("q"))
      .agg(P.cnt.as("n_communities"), P.prnd(P.dsum($"q", 12), 8).as("modularity"))
      .select($"n_communities", lit(movedTotal).as("n_moved"),
        lit(sweepsWithMoves).as("n_sweeps"), $"modularity")
  }

  /** SEEDED-SCHEDULE Louvain sweep variant (r15 verdict item 6) — the
    * deterministic, engine-portable stand-in for the reference's seeded
    * node-visit ORDER (`louvain_communities(seed=42)` visits nodes in a
    * seeded random sequence, each move visible to later nodes in the
    * same sweep — inherently serial). The distributed analogue from the
    * parallel-Louvain literature is a seeded random SCHEDULE: per sweep
    * t only the nodes whose md5("42:node:t") is even are ACTIVE and may
    * take their argmax move (up OR down — no symmetry constraint
    * needed, the inactive half breaks the synchronous oscillation the
    * down-only rule exists to prevent); the rest hold. Fixed
    * [[LvSweeps]] sweeps, NO early exit: a zero-move sweep is not a
    * fixed point here (the next sweep activates a different half), and
    * the oracle unrolls the identical schedule. Same exact-BIGINT gain
    * and argmax row as [[louvainSweepLoop]].
    */
  private def louvainSeededSweeps(u: DataFrame, deg: DataFrame,
      lbl0: DataFrame, w2df: DataFrame, bcast: Boolean, sweeps: Int): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    var lbl = lbl0
    for (i <- 1 to sweeps) {
      val ctot = lbl.join(deg, "node")
        .groupBy($"community").agg(sum($"wdegree").as("wtot"))
      val cand = u
        .filter($"node" =!= $"nb")
        .join(stateJoin(lbl.select($"node".as("nb2"), $"community".as("c")), bcast), $"nb" === $"nb2")
        .select($"node", $"c", $"weight".as("wnc"))
        .union(lbl.select($"node", $"community".as("c"), lit(0L).as("wnc")))
        .groupBy($"node", $"c").agg(sum($"wnc").as("wnc"))
      val active = P.hexToLong(
        md5(concat(lit("42:"), $"node".cast("string"), lit(s":$i"))), 1, 15) % 2 === 0
      lbl = cand
        .join(stateJoin(lbl.select($"node".as("n0"), $"community".as("a")), bcast), $"node" === $"n0")
        .join(stateJoin(ctot.select($"community".as("c"), $"wtot"), bcast), "c")
        .join(stateJoin(deg.select($"node".as("n1"), $"wdegree".as("dn")), bcast), $"node" === $"n1")
        .crossJoin(broadcast(w2df))
        .select($"node", $"a", $"c",
          ($"w2" * $"wnc" - $"dn" *
            ($"wtot" - when($"c" === $"a", $"dn").otherwise(lit(0L)))).as("score"))
        .groupBy($"node", $"a")
        .agg(min(struct((-$"score").as("ns"),
          when($"c" === $"a", 0).otherwise(1).as("t"), $"c".as("l"))).as("m"))
        .select($"node", when(active, $"m.l").otherwise($"a").as("community"))
        .ckpt
      // one action per sweep: materializes the checkpoint so six sweeps
      // never stack into one deep lazy plan (the pagerank discipline)
      lbl.count()
    }
    lbl
  }

  /** sdv0..sdvN CTE chain — the SQL twin of [[louvainSeededSweeps]]:
    * [[lvChainOver]]'s recurrence with the argmax UNCLAMPED and the
    * move gated on the seeded per-sweep schedule.
    */
  private def lvSeedChain(sweeps: Int): String = {
    val base = s"sdv0 AS MATERIALIZED (SELECT node, lbl AS c FROM lp$LpIters)"
    val steps = (1 to sweeps).map { i =>
      val act = PS.hexToLong(s"md5('42:' || CAST(node AS VARCHAR) || ':$i')", 1, 15)
      s"""sdct$i AS MATERIALIZED (SELECT l.c AS community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
         |  FROM sdv${i - 1} l JOIN deg d USING (node) GROUP BY l.c),
         |sdcd$i AS MATERIALIZED (SELECT node, c, CAST(SUM(wnc) AS BIGINT) AS wnc FROM (
         |    SELECT u.node, lb.c, u.weight AS wnc
         |    FROM und u JOIN sdv${i - 1} lb ON u.nb = lb.node WHERE u.node <> u.nb
         |    UNION ALL SELECT node, c, 0 AS wnc FROM sdv${i - 1}) t
         |  GROUP BY node, c),
         |sdv$i AS MATERIALIZED (SELECT node,
         |    CASE WHEN ($act) % 2 = 0 THEN c ELSE a END AS c FROM (
         |    SELECT cd.node, la.c AS a, cd.c,
         |      row_number() OVER (PARTITION BY cd.node ORDER BY
         |        (w.w2 * cd.wnc - d.wdegree *
         |          (ct.wtot - CASE WHEN cd.c = la.c THEN d.wdegree ELSE 0 END)) DESC,
         |        CASE WHEN cd.c = la.c THEN 0 ELSE 1 END,
         |        cd.c) AS rn
         |    FROM sdcd$i cd
         |    JOIN sdv${i - 1} la ON la.node = cd.node
         |    JOIN sdct$i ct ON ct.community = cd.c
         |    JOIN deg d ON d.node = cd.node, tw w) x
         |  WHERE rn = 1)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Partition agreement between the down-only sweep rule and the
    * seeded-schedule variant (r15 verdict item 6) — makes the declared
    * seeded-order divergence DATA instead of a caveat: the reference's
    * partitions agree with graft's in kind (both resolve the same
    * planted structure — spec-proved), not label-for-label, and this
    * query measures how far the two deterministic rules actually land
    * apart on the corpus. Pair-counting Rand index over the two label
    * sets via the contingency table: RI·2·C(n,2) = n(n−1) + 2·Σ nij(nij−1)/… —
    * concretely (n(n−1) + 2·Σnij(nij−1) − Σni(ni−1) − Σnj(nj−1)) /
    * n(n−1), every term an exact BIGINT until the one final divide.
    *
    * Scale shape: both label sets are |V|-row relations (the down-only
    * side reads the SHARED converged lv1 artifact; the seeded side runs
    * its fixed six sweeps over the same cached edge relation); the
    * contingency table is one keyed aggregate at |C1×C2| ≤ community²
    * cardinality, then three scalar aggregates.
    */
  val grLouvainAgree = QueryDef(
    "gr_louvain_agree",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)},
       |tw AS MATERIALIZED (SELECT CAST(SUM(weight) AS BIGINT) AS w2 FROM und),
       |${lvChain(LvSweeps)},
       |${lvSeedChain(LvSweeps)},
       |ctab AS MATERIALIZED (SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS nij
       |  FROM lv$LvSweeps a JOIN sdv$LvSweeps b USING (node) GROUP BY a.c, b.c),
       |tot AS MATERIALIZED (SELECT CAST(SUM(nij) AS BIGINT) AS n,
       |    CAST(SUM(nij * (nij - 1)) AS BIGINT) AS sij2 FROM ctab),
       |rsum AS MATERIALIZED (SELECT CAST(SUM(ni * (ni - 1)) AS BIGINT) AS si2 FROM (
       |  SELECT CAST(SUM(nij) AS BIGINT) AS ni FROM ctab GROUP BY c1)),
       |csum AS MATERIALIZED (SELECT CAST(SUM(nj * (nj - 1)) AS BIGINT) AS sj2 FROM (
       |  SELECT CAST(SUM(nij) AS BIGINT) AS nj FROM ctab GROUP BY c2)),
       |ncd AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comm_down FROM lv$LvSweeps),
       |ncs AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_comm_seed FROM sdv$LvSweeps)
       |SELECT t.n AS n_nodes, d.n_comm_down, s.n_comm_seed,
       |  ${PS.prnd("CASE WHEN t.n > 1 THEN CAST(t.n * (t.n - 1) + 2 * t.sij2 - r.si2 - c.sj2 AS DOUBLE) / CAST(t.n * (t.n - 1) AS DOUBLE) ELSE NULL END", 8)} AS rand_index
       |FROM tot t, rsum r, csum c, ncd d, ncs s""".stripMargin) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val deg = degrees(u).ckpt
    val bcast = stateHint(deg.count())
    val w2df = u.agg(sum($"weight").as("w2"))
    val down = lv1M(s, dir, u, deg, bcast, w2df)
      .select($"node", $"community".as("c1"))
    // the seeded labels are a train-once artifact like lv1M's: six
    // deterministic sweeps, memoized per (session, corpus)
    val seeded = lvSeedM(s, dir, u, deg, bcast, w2df)
      .select($"node", $"community".as("c2"))
    val ctab = down.join(seeded, "node")
      .groupBy($"c1", $"c2").agg(P.cnt.as("nij")).ckpt
    val tot = ctab.agg(sum($"nij").cast("long").as("n"),
      sum($"nij" * ($"nij" - 1)).cast("long").as("sij2"))
    val rsum = ctab.groupBy($"c1").agg(sum($"nij").as("ni"))
      .agg(sum($"ni" * ($"ni" - 1)).cast("long").as("si2"))
    val csum = ctab.groupBy($"c2").agg(sum($"nij").as("nj"))
      .agg(sum($"nj" * ($"nj" - 1)).cast("long").as("sj2"))
    val ncd = down.agg(count_distinct($"c1").as("n_comm_down"))
    val ncs = seeded.agg(count_distinct($"c2").as("n_comm_seed"))
    tot.crossJoin(broadcast(rsum)).crossJoin(broadcast(csum))
      .crossJoin(broadcast(ncd)).crossJoin(broadcast(ncs))
      .select($"n".as("n_nodes"), $"n_comm_down", $"n_comm_seed",
        P.prnd(when($"n" > 1,
          ($"n" * ($"n" - 1) + lit(2L) * $"sij2" - $"si2" - $"sj2").cast("double") /
            ($"n" * ($"n" - 1)).cast("double"))
          .otherwise(lit(null).cast("double")), 8).as("rand_index"))
  }

  /** MULTI-LEVEL Louvain (r15) — the aggregation/coarsening phase the
    * r14 verdict flagged as the one §1 panel not reproducible in kind:
    * the reference's `louvain_communities(weight='weight', seed=42)`
    * (network_analysis.py:194) interleaves local-move convergence with
    * graph CONTRACTION, so hierarchical community structure a single
    * move level cannot see (no individual border node gains by moving,
    * but a whole sub-community does) still resolves.
    *
    * Level 1 is exactly [[grLouvain]]'s LPA-seeded sweep chain. Each
    * coarse level then:
    *  1. contracts communities to super-nodes with ONE keyed aggregate
    *     over the previous level's edge relation (same shape as the
    *     base edge build; within-community weight becomes a self-loop
    *     row, which counts in the super-node's degree but is excluded
    *     from neighbor candidates — standard Louvain);
    *  2. re-runs the same constrained sweep loop from the singleton
    *     partition of super-nodes ([[louvainSweepLoop]] — `tw` is
    *     level-invariant: contraction preserves total edge weight);
    *  3. unfolds: the base node→community mapping composes through the
    *     level's label join.
    * [[MlCoarseLevels]] coarse levels are unrolled statically in the
    * oracle; the Spark loop early-exits at a zero-move level (a fixed
    * point — contracting an unchanged partition yields the identical
    * coarse graph, so every later level is a no-op on both engines).
    * Output: community count, coarse-level moves, effective levels
    * (1 + coarse levels that moved), and the unfolded partition's
    * base-graph modularity (exact arithmetic as [[grModularity]]).
    *
    * Scale shape: contraction is one map-side-combined aggregate at
    * coarse-edge cardinality; every coarse relation is ≤ the previous
    * level's community count, so levels SHRINK — the base level's
    * size-driven [[stateJoin]] discipline dominates the cost and the
    * coarse levels ride on relations that are tiny by construction.
    */
  /** Coarse-level contraction/sweep CTE chains + the unfolded base
    * mapping `fin` (node, community) — grLouvainMl's multi-level SQL,
    * factored so the partition-quality panel unrolls the IDENTICAL
    * recurrence (one definition, two consumers). Requires `und`, `deg`,
    * `tw`, `lp$LpIters` and the `lv` chain in scope.
    */
  private def mlChainSql: String = {
    val ms = MlCoarseSweeps
    val coarse = (2 to MlCoarseLevels + 1).map { l =>
      val prevLbl = if (l == 2) s"lv$LvSweeps" else s"m${l - 1}v$ms"
      val prevUnd = if (l == 2) "und" else s"und${l - 1}"
      s"""und$l AS MATERIALIZED (SELECT a.c AS node, b.c AS nb, CAST(SUM(u.weight) AS BIGINT) AS weight
         |  FROM $prevUnd u JOIN $prevLbl a ON u.node = a.node JOIN $prevLbl b ON u.nb = b.node
         |  GROUP BY a.c, b.c),
         |deg$l AS MATERIALIZED (SELECT node, CAST(SUM(weight) AS BIGINT) AS wdegree FROM und$l GROUP BY node),
         |${lvChainOver(s"m$l", s"und$l", s"deg$l", s"SELECT node, node AS c FROM deg$l", ms)}""".stripMargin
    }.mkString(",\n")
    val finJoins = (2 to MlCoarseLevels + 1).map { l =>
      val prev = if (l == 2) "l1.c" else s"x${l - 1}.c"
      s"JOIN m${l}v$ms x$l ON $prev = x$l.node"
    }.mkString("\n  ")
    s"""$coarse,
       |fin AS MATERIALIZED (SELECT l1.node, x${MlCoarseLevels + 1}.c AS community
       |  FROM lv$LvSweeps l1
       |  $finJoins)""".stripMargin
  }

  private def mlLvlSumSql(l: Int): String =
    (1 to MlCoarseSweeps).map(i => s"(SELECT n_moved FROM m${l}mvd$i)")
      .mkString("(", " + ", ")")

  val grLouvainMl = QueryDef(
    "gr_louvain_ml", {
      val movedSum = (2 to MlCoarseLevels + 1).map(mlLvlSumSql).mkString(" + ")
      val levels = (2 to MlCoarseLevels + 1)
        .map(l => s"(CASE WHEN ${mlLvlSumSql(l)} > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $eNumSql, $undSql, $degSql,
         |${lpChain(LpIters)},
         |tw AS MATERIALIZED (SELECT CAST(SUM(weight) AS BIGINT) AS w2 FROM und),
         |${lvChain(LvSweeps)},
         |$mlChainSql,
         |cinm AS MATERIALIZED (SELECT a1.community, CAST(SUM(u.weight) AS BIGINT) AS win
         |  FROM und u
         |  JOIN fin a1 ON u.node = a1.node
         |  JOIN fin a2 ON u.nb = a2.node AND a2.community = a1.community
         |  GROUP BY a1.community),
         |ctotm AS MATERIALIZED (SELECT m.community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
         |  FROM fin m JOIN deg d USING (node) GROUP BY m.community),
         |qcm AS MATERIALIZED (SELECT t.community,
         |    ${PS.prnd("COALESCE(i.win, 0) / CAST(w.w2 AS DOUBLE) - (t.wtot / CAST(w.w2 AS DOUBLE)) * (t.wtot / CAST(w.w2 AS DOUBLE))", 12)} AS q
         |  FROM ctotm t LEFT JOIN cinm i ON i.community = t.community, tw w)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |  CAST($movedSum AS BIGINT) AS n_moved,
         |  CAST(1 + $levels AS BIGINT) AS n_levels,
         |  ${PS.prnd(PS.dsum("q", 12), 8)} AS modularity
         |FROM qcm""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val deg = degrees(u).ckpt
    val bcast = stateHint(deg.count())
    val w2df = u.agg(sum($"weight").as("w2"))
    val mm = mlMappingM(s, dir, u, deg, bcast, w2df)
    val meta = mm.agg(max($"n_moved").as("n_moved"), max($"n_levels").as("n_levels"))
    modularityOf(u, deg, mm.select($"node", $"community"), w2df, bcast)
      .crossJoin(broadcast(meta))
      .select($"n_communities", $"n_moved", $"n_levels", $"modularity")
  }

  /** Session-shared MULTI-LEVEL mapping (node → final community), with
    * the coarse-level telemetry riding as constant columns (n_moved,
    * n_levels — the [[lv1M]] pattern): grLouvainMl's contraction loop,
    * memoized so the partition-quality panel reads the identical
    * train-once artifact instead of re-running the levels.
    */
  private def mlMappingM(s: SparkSession, dir: String, u: DataFrame,
      deg: DataFrame, bcast: Boolean, w2df: DataFrame): DataFrame = {
    import s.implicits._
    MatStore.of(s, s"gr_lvml:$dir") {
      // level 1 = the SHARED sweep result gr_louvain also reports
      var mapping = lv1M(s, dir, u, deg, bcast, w2df)
        .select($"node", $"community")
      var curU = u
      var curLbl = mapping
      var curBcast = bcast
      var coarseMoved = 0L
      var levelsWithMoves = 0L
      var done = false
      var lvl = 2
      while (lvl <= MlCoarseLevels + 1 && !done) {
        // contraction: ONE keyed aggregate builds the coarse edge relation
        // (within-community weight lands on the self-loop row node = nb)
        val cund = curU
          .join(stateJoin(curLbl.select($"node".as("n1"), $"community".as("ca")), curBcast), $"node" === $"n1")
          .join(stateJoin(curLbl.select($"node".as("n2"), $"community".as("cb")), curBcast), $"nb" === $"n2")
          .groupBy($"ca", $"cb").agg(sum($"weight").as("weight"))
          .select($"ca".as("node"), $"cb".as("nb"), $"weight")
          .ckpt
        val cdeg = cund.groupBy($"node").agg(sum($"weight").as("wdegree")).ckpt
        // one count action per level: materializes the coarse relations
        // and sizes the level's state joins (coarse |V| = community count)
        val cb = stateHint(cdeg.count())
        val init = cdeg.select($"node", $"node".as("community"))
        val (clbl, mvd, _) = louvainSweepLoop(cund, cdeg, init, w2df, cb, MlCoarseSweeps)
        coarseMoved += mvd
        // zero moves = a fixed point: the next contraction reproduces this
        // coarse graph, so every later level is a no-op (the oracle's
        // static unroll computes exactly that no-op)
        if (mvd > 0) levelsWithMoves += 1 else done = true
        mapping = mapping.select($"node", $"community".as("c0"))
          .join(stateJoin(clbl.select($"node".as("cn"), $"community".as("c1")), cb), $"c0" === $"cn")
          .select($"node", $"c1".as("community")).ckpt
        curU = cund
        curLbl = clbl
        curBcast = cb
        lvl += 1
      }
      mapping.select($"node", $"community",
        lit(coarseMoved).as("n_moved"),
        lit(1L + levelsWithMoves).as("n_levels"))
    }
  }

  /** Session-shared seeded-schedule sweep labels (see
    * [[louvainSeededSweeps]]) — consumed by [[grLouvainAgree]] and the
    * partition-quality panel.
    */
  private def lvSeedM(s: SparkSession, dir: String, u: DataFrame,
      deg: DataFrame, bcast: Boolean, w2df: DataFrame): DataFrame = {
    import s.implicits._
    MatStore.of(s, s"gr_lvseed:$dir")(
      louvainSeededSweeps(u, deg,
        lpaM(s, dir, u, bcast), w2df, bcast, LvSweeps))
  }

  /** One-row modularity report (n_communities, modularity) of a label
    * relation (node, community) on the base graph — [[grModularity]]'s
    * exact arithmetic (per-community q prnd'd at 12, decimal sum, final
    * prnd 8), factored so LPA, both Louvain variants, and the quality
    * panel all score through ONE definition.
    */
  private def modularityOf(u: DataFrame, deg: DataFrame, lbl: DataFrame,
      w2df: DataFrame, bcast: Boolean): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val cin = u
      .join(stateJoin(lbl.select($"node".as("m1"), $"community".as("c1")), bcast), $"node" === $"m1")
      .join(stateJoin(lbl.select($"node".as("m2"), $"community".as("c2")), bcast),
        $"nb" === $"m2" && $"c2" === $"c1")
      .groupBy($"c1".as("community")).agg(sum($"weight").as("win"))
    val ctot = lbl.join(deg, "node")
      .groupBy($"community").agg(sum($"wdegree").as("wtot"))
    ctot.join(cin, Seq("community"), "left")
      .crossJoin(broadcast(w2df))
      .select(P.prnd(
        coalesce($"win", lit(0L)) / $"w2".cast("double")
          - ($"wtot" / $"w2".cast("double")) * ($"wtot" / $"w2".cast("double")), 12).as("q"))
      .agg(P.cnt.as("n_communities"), P.prnd(P.dsum($"q", 12), 8).as("modularity"))
  }

  /** Partition-quality CTE block: modularity of the label CTE `lblCte`
    * (label column `lblCol`) on the base graph, result in `<pfx>r` —
    * the SQL twin of [[modularityOf]]. Requires und/deg/tw in scope.
    */
  private def qPanelSql(pfx: String, lblCte: String, lblCol: String): String =
    s"""${pfx}ci AS MATERIALIZED (SELECT a.$lblCol AS community, CAST(SUM(u.weight) AS BIGINT) AS win
       |  FROM und u JOIN $lblCte a ON u.node = a.node
       |  JOIN $lblCte b ON u.nb = b.node AND b.$lblCol = a.$lblCol
       |  GROUP BY a.$lblCol),
       |${pfx}ct AS MATERIALIZED (SELECT l.$lblCol AS community, CAST(SUM(d.wdegree) AS BIGINT) AS wtot
       |  FROM $lblCte l JOIN deg d USING (node) GROUP BY l.$lblCol),
       |${pfx}q AS MATERIALIZED (SELECT t.community,
       |    ${PS.prnd("COALESCE(i.win, 0) / CAST(w.w2 AS DOUBLE) - (t.wtot / CAST(w.w2 AS DOUBLE)) * (t.wtot / CAST(w.w2 AS DOUBLE))", 12)} AS q
       |  FROM ${pfx}ct t LEFT JOIN ${pfx}ci i ON i.community = t.community, tw w),
       |${pfx}r AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  ${PS.prnd(PS.dsum("q", 12), 8)} AS modularity FROM ${pfx}q)""".stripMargin

  /** Partition-quality panel (r16 verdict item 2): modularity Q +
    * community count of every candidate partition — LPA, down-only
    * Louvain, seeded-schedule Louvain, multi-level Louvain — on the
    * SAME base graph through the SAME exact arithmetic, so the
    * dashboard's segmentation choice is data, not lore. What the data
    * says on this corpus: the dense quasi-random bipartite graph has NO
    * assortative structure (every non-trivial split scores Q < 0), so
    * down-only/ML converge to the configuration-model optimum (1
    * community, Q = 0.0) — maximal Q but useless as segmentation —
    * while LPA and the seeded schedule trade a little Q for the
    * many-community views the reference's dashboard panels need.
    * gr_community_stats/names stay keyed on LPA BY THIS MEASUREMENT:
    * it is the partition with the most usable granularity on a corpus
    * where Q cannot distinguish usefully (and the reference's own
    * louvain output on such a graph would collapse the same way).
    *
    * Scale shape: all four label relations are |V|-row session-shared
    * artifacts the other gr_* queries already build; each Q block is
    * one |E|-stream join + two community-cardinality aggregates.
    */
  val grCommunityQuality = QueryDef(
    "gr_community_quality",
    s"""WITH $eNumSql, $undSql, $degSql,
       |${lpChain(LpIters)},
       |tw AS MATERIALIZED (SELECT CAST(SUM(weight) AS BIGINT) AS w2 FROM und),
       |${lvChain(LvSweeps)},
       |${lvSeedChain(LvSweeps)},
       |$mlChainSql,
       |${qPanelSql("qlp", s"lp$LpIters", "lbl")},
       |${qPanelSql("qdn", s"lv$LvSweeps", "c")},
       |${qPanelSql("qsd", s"sdv$LvSweeps", "c")},
       |${qPanelSql("qml", "fin", "community")}
       |SELECT method, n_communities, modularity FROM (
       |  SELECT 'lpa' AS method, * FROM qlpr
       |  UNION ALL SELECT 'louvain_down', * FROM qdnr
       |  UNION ALL SELECT 'louvain_seeded', * FROM qsdr
       |  UNION ALL SELECT 'louvain_ml', * FROM qmlr
       |) ORDER BY method""".stripMargin) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val deg = degrees(u).ckpt
    val bcast = stateHint(deg.count())
    val w2df = u.agg(sum($"weight").as("w2"))
    def row(method: String, lbl: DataFrame): DataFrame =
      modularityOf(u, deg, lbl, w2df, bcast)
        .select(lit(method).as("method"), $"n_communities", $"modularity")
    row("lpa", lpaM(s, dir, u, bcast)
        .select($"node", $"community"))
      .union(row("louvain_down", lv1M(s, dir, u, deg, bcast, w2df)
        .select($"node", $"community")))
      .union(row("louvain_seeded", lvSeedM(s, dir, u, deg, bcast, w2df)
        .select($"node", $"community")))
      .union(row("louvain_ml", mlMappingM(s, dir, u, deg, bcast, w2df)
        .select($"node", $"community")))
      .orderBy($"method")
  }

  /** Per-supplier customer cap for the clustering projection and the
    * clustering sample size — both keep [[grGraphStats]] bounded at any
    * corpus size: projection edges ≤ |suppliers|·cap², wedges ≤
    * sample·(cap·deg)². Deterministic (id-ordered) like [[Dedup.MaxBucket]].
    */
  val ProjCap = 20
  val ClSampleK = 32

  /** Session-shared capped customer–customer co-supplier projection
    * (a < b, distinct): per-supplier cap as an aggregate top-k (collect
    * the member list, sort, slice — map-side partials), NOT a row_number
    * window — same ProjCap-smallest-src rows, no per-partition sort of
    * the full edge relation (measured 1.49s → ~0.4s at sf0.1). cs
    * appears on both sides of the self-join as the IDENTICAL subplan,
    * so ReuseExchange materializes its aggregation once; shuffle_hash
    * skips the SMJ sorts a stats-free relation gets. Shared by
    * [[grGraphStats]] and [[grTriangles]].
    */
  private def projM(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MatStore.of(s, s"gr_proj:$dir") {
      val e = edgesNum(s, dir)
      val cs = e.groupBy($"dst")
        .agg(slice(array_sort(collect_list($"src")), 1, ProjCap).as("m"))
        .select($"dst", explode($"m").as("src"))
      cs.select($"dst", $"src".as("a"))
        .join(cs.select($"dst", $"src".as("b")).hint("shuffle_hash"), "dst")
        .filter($"a" < $"b").select($"a", $"b").distinct()
    }
  }

  /** Graph metadata panel — node/edge counts, density, and average
    * clustering (reference: network-analysis/network_analysis.py:329-336,
    * rendered at dashboard/dashboard.py:304-329). The customer↔supplier
    * graph is bipartite (zero triangles), so clustering is computed on the
    * customer–customer co-supplier projection, per-supplier capped to
    * [[ProjCap]] members and averaged over the [[ClSampleK]] smallest
    * projection nodes (Schank-Wagner-style sampled clustering) — the exact
    * all-pairs projection is quadratic per supplier and cannot survive
    * 100 TB. Both the cap and the sample are mirrored in the oracle.
    */
  val grGraphStats = QueryDef(
    "gr_graph_stats",
    s"""WITH $eNumSql,
       |gn AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |cs AS MATERIALIZED (SELECT dst, src FROM (
       |    SELECT dst, src, row_number() OVER (PARTITION BY dst ORDER BY src) AS rn FROM e) t
       |  WHERE rn <= $ProjCap),
       |proj AS MATERIALIZED (SELECT DISTINCT ca.src AS a, cb.src AS b
       |  FROM cs ca JOIN cs cb ON ca.dst = cb.dst AND ca.src < cb.src),
       |pn AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT a AS v FROM proj UNION ALL SELECT b FROM proj)),
       |smp AS MATERIALIZED (SELECT v FROM pn ORDER BY v LIMIT $ClSampleK),
       |nbr AS MATERIALIZED (SELECT s.v, p.b AS n FROM proj p JOIN smp s ON p.a = s.v
       |  UNION ALL SELECT s.v, p.a FROM proj p JOIN smp s ON p.b = s.v),
       |dg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM nbr GROUP BY v),
       |tri AS MATERIALIZED (SELECT w.v, COUNT(*) AS t FROM (
       |    SELECT n1.v, n1.n AS u, n2.n AS w FROM nbr n1 JOIN nbr n2 ON n1.v = n2.v AND n1.n < n2.n) w
       |  JOIN proj p ON w.u = p.a AND w.w = p.b GROUP BY w.v),
       |cl AS MATERIALIZED (SELECT dg.v,
       |    CASE WHEN dg.d >= 2 THEN CAST(2.0 AS DOUBLE) * CAST(COALESCE(tri.t, 0) AS DOUBLE)
       |        / CAST(dg.d * (dg.d - 1) AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END AS c
       |  FROM dg LEFT JOIN tri ON dg.v = tri.v)
       |SELECT CAST((SELECT COUNT(*) FROM gn) AS BIGINT) AS n_nodes,
       |  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       |  ${PS.prnd("CASE WHEN (SELECT COUNT(*) FROM gn) > 1 THEN CAST((SELECT COUNT(*) FROM e) * 2 AS DOUBLE) / (CAST((SELECT COUNT(*) FROM gn) AS DOUBLE) * CAST((SELECT COUNT(*) FROM gn) - 1 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END", 8)} AS density,
       |  ${PS.prnd(s"(SELECT ${PS.davg(PS.prnd("c", 9), 9)} FROM cl)", 8)} AS avg_clustering,
       |  CAST((SELECT COUNT(*) FROM smp) AS BIGINT) AS sample_size,
       |  CAST((SELECT COUNT(*) FROM proj) AS BIGINT) AS proj_edges""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = edgesNum(s, dir)
    // session-shared node list and capped projection (MatStore): both
    // are deterministic index-style builds over the shared edge list —
    // the 100 TB posture materializes the co-occurrence projection once
    // and serves every stats query from it, exactly like the edge list
    // itself (see [[edgesNum]]).
    val gn = MatStore.of(s, s"gr_nodes:$dir")(
      e.select($"src".as("v")).union(e.select($"dst".as("v"))).distinct())
    val proj = projM(s, dir)
    // The whole sampled-clustering chain is deterministic per dir (id-
    // ordered sample, capped projection), so its ≤ ClSampleK-row result
    // is session-shared too — repeat consumers pay only the scalar
    // aggregates below.
    val cl = MatStore.of(s, s"gr_cl:$dir") {
      val pn = proj.select($"a".as("v")).union(proj.select($"b".as("v"))).distinct()
      val smp = pn.orderBy($"v").limit(ClSampleK).ckpt
      val nbr = proj.join(broadcast(smp), $"a" === $"v").select($"v", $"b".as("n"))
        .union(proj.join(broadcast(smp), $"b" === $"v").select($"v", $"a".as("n")))
        .ckpt
      val dg = nbr.groupBy($"v").agg(P.cnt.as("d"))
      // Triangle count as a neighbor-INTERSECTION probe, not a wedge
      // materialization: a triangle at sampled node v is a projection
      // edge (a, b) with both ends in nbr(v), so proj streams once
      // through TWO broadcast joins of the sample-bounded nbr relation
      // (≤ ClSampleK × capped degree rows). The earlier wedge
      // formulation materialized C(d,2) pairs per sampled node — that
      // bound SQUARED, ~1.4M rows at sf0.1 — and either collected them
      // to the driver (broadcast, 3.9s) or exchanged them (shuffle,
      // 1.3s); the intersection probe is pure narrow pipeline over the
      // checkpointed proj (measured ~0.3s).
      val tri = proj
        .join(broadcast(nbr.select($"v", $"n".as("a"))), "a")
        .join(broadcast(nbr.select($"v".as("v2"), $"n".as("n2"))),
          $"v2" === $"v" && $"n2" === $"b")
        .groupBy($"v").agg(P.cnt.as("t"))
      dg.join(broadcast(tri), Seq("v"), "left")
        .select($"v", when($"d" >= 2,
          lit(2.0) * coalesce($"t", lit(0L)).cast("double") / ($"d" * ($"d" - 1)).cast("double"))
          .otherwise(lit(0.0)).as("c"))
    }
    // ALL four scalar aggregates ride ONE union-pivot job (branches run
    // as parallel stages) instead of four crossJoin(broadcast(1-row))
    // builds, each of which was its own job-scheduling barrier
    val scalars = gn.agg(P.cnt.cast("double").as("v")).select(lit("nn").as("k"), $"v")
      .union(e.agg(P.cnt.cast("double").as("v")).select(lit("ne").as("k"), $"v"))
      .union(cl.agg(P.davg(P.prnd($"c", 9), 9).as("v")).select(lit("ac").as("k"), $"v"))
      .union(cl.agg(P.cnt.cast("double").as("v")).select(lit("ss").as("k"), $"v"))
      .union(proj.agg(P.cnt.cast("double").as("v")).select(lit("pe").as("k"), $"v"))
    def sc(k: String) = max(when($"k" === k, $"v"))
    scalars
      .agg(sc("nn").cast("long").as("nn"), sc("ne").cast("long").as("ne"),
        sc("ac").as("ac"), sc("ss").cast("long").as("ss"), sc("pe").cast("long").as("pe"))
      .select($"nn".as("n_nodes"), $"ne".as("n_edges"),
        // nn > 1 guard: a single-node graph divides by zero — Spark
        // yields NULL where DuckDB yields Infinity, so both sides pin
        // the degenerate density to 0.0 (mirrors the clustering CASE)
        P.prnd(when($"nn" > 1, ($"ne" * 2).cast("double")
          / ($"nn".cast("double") * ($"nn" - 1).cast("double")))
          .otherwise(lit(0.0)), 8).as("density"),
        P.prnd($"ac", 8).as("avg_clustering"),
        $"ss".as("sample_size"), $"pe".as("proj_edges"))
  }

  /** Link prediction by co-supplier Jaccard — for every candidate customer
    * pair sharing at least one supplier, |suppliers(a) ∩ suppliers(b)| /
    * |suppliers(a) ∪ suppliers(b)| over the per-supplier-capped membership
    * sets, top 20 (the "users likely to interact" panel a social-graph
    * dashboard derives from the same projection the clustering panel uses,
    * reference network_analysis.py:329-336). Candidates come ONLY from the
    * [[ProjCap]]-capped per-supplier member lists — the same deterministic
    * id-ordered cap as [[grGraphStats]], so pair generation is bounded by
    * |suppliers|·cap² at any corpus size, never the quadratic exact
    * projection; numerator and denominators both read the capped sets, so
    * the score is exactly the Jaccard of what was materialized. The capped
    * membership is MatStore-shared (an index-style build over the shared
    * edge list), the per-customer set sizes are a data-scaling relation and
    * are therefore joined WITHOUT a broadcast hint (AQE decides, the
    * q3/q5 discipline), and the top-20 is TakeOrderedAndProject.
    */
  val grLinkPredict = QueryDef(
    "gr_link_predict",
    s"""WITH $eNumSql,
       |cs AS MATERIALIZED (SELECT dst, src FROM (
       |    SELECT dst, src, row_number() OVER (PARTITION BY dst ORDER BY src) AS rn FROM e) t
       |  WHERE rn <= $ProjCap),
       |cd AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM cs GROUP BY src),
       |pc AS MATERIALIZED (SELECT ca.src AS a, cb.src AS b, COUNT(*) AS common
       |  FROM cs ca JOIN cs cb ON ca.dst = cb.dst AND ca.src < cb.src GROUP BY 1, 2)
       |SELECT ${fmtNodeSql("a")} AS node_a, ${fmtNodeSql("b")} AS node_b, common,
       |  ${PS.prnd("CAST(common AS DOUBLE) / CAST(da.d + db.d - common AS DOUBLE)", 8)} AS jaccard
       |FROM pc JOIN cd da ON pc.a = da.src JOIN cd db ON pc.b = db.src
       |ORDER BY jaccard DESC, node_a, node_b LIMIT 20""".stripMargin) { (s, dir) =>
    import s.implicits._
    val e = edgesNum(s, dir)
    // capped membership shared across consumers (same aggregate top-k
    // shape as gr_proj's cs — collect, sort, slice; no per-partition sort
    // of the full edge relation)
    val cs = MatStore.of(s, s"gr_cs:$dir") {
      e.groupBy($"dst")
        .agg(slice(array_sort(collect_list($"src")), 1, ProjCap).as("m"))
        .select($"dst", explode($"m").as("src"))
    }
    val cd = cs.groupBy($"src").agg(P.cnt.as("d"))
    val pc = cs.select($"dst", $"src".as("a"))
      .join(cs.select($"dst", $"src".as("b")).hint("shuffle_hash"), "dst")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(P.cnt.as("common"))
    pc.join(cd.select($"src".as("a"), $"d".as("da")), "a")
      .join(cd.select($"src".as("b"), $"d".as("db")), "b")
      .select(fmtNode($"a").as("node_a"), fmtNode($"b").as("node_b"), $"common",
        P.prnd($"common".cast("double") / ($"da" + $"db" - $"common").cast("double"), 8)
          .as("jaccard"))
      .orderBy($"jaccard".desc, $"node_a", $"node_b").limit(20)
  }

  /** Exact per-node triangle counts + local clustering over the capped
    * projection, via DEGREE-ORDERED edge orientation (Chiba–Nishizeki /
    * the standard distributed-triangle formulation): orient every
    * projection edge from its lower-(degree, id) endpoint to the higher,
    * enumerate wedges from each node's OUT-neighbors only, and close
    * each wedge against the oriented edge list. Orientation bounds
    * out-degree by O(√|E|) on any graph, so wedge generation is
    * O(|E|^1.5) worst-case instead of Σd² — the hub-node wedge explosion
    * that kills id-ordered or undirected formulations at 100 TB. Unlike
    * [[grGraphStats]]'s Schank–Wagner sampled clustering (a corpus-wide
    * average), this reports the exact top-20 panel. Every join here
    * keys data-scaling relations (per-node degrees, oriented edges) —
    * all shuffle joins, nothing broadcast.
    */
  val grTriangles = QueryDef(
    "gr_triangles",
    s"""WITH $eNumSql,
       |cs AS MATERIALIZED (SELECT dst, src FROM (
       |    SELECT dst, src, row_number() OVER (PARTITION BY dst ORDER BY src) AS rn FROM e) t
       |  WHERE rn <= $ProjCap),
       |proj AS MATERIALIZED (SELECT DISTINCT ca.src AS a, cb.src AS b
       |  FROM cs ca JOIN cs cb ON ca.dst = cb.dst AND ca.src < cb.src),
       |pd AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |    SELECT a AS v FROM proj UNION ALL SELECT b FROM proj) t GROUP BY v),
       |oe AS MATERIALIZED (SELECT
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b) THEN p.a ELSE p.b END AS u,
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b) THEN p.b ELSE p.a END AS v,
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b) THEN db.d ELSE da.d END AS dv
       |  FROM proj p JOIN pd da ON da.v = p.a JOIN pd db ON db.v = p.b),
       |tr AS MATERIALIZED (SELECT w.u, w.x, w.y FROM (
       |    SELECT o1.u, o1.v AS x, o2.v AS y FROM oe o1 JOIN oe o2 ON o1.u = o2.u
       |    WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)) w
       |  JOIN oe e2 ON e2.u = w.x AND e2.v = w.y),
       |tc AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
       |    SELECT u AS v FROM tr UNION ALL SELECT x FROM tr UNION ALL SELECT y FROM tr) t
       |  GROUP BY v)
       |SELECT ${fmtNodeSql("pd.v")} AS node, pd.d AS degree,
       |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS triangles,
       |  ${PS.prnd("CASE WHEN pd.d >= 2 THEN CAST(2.0 AS DOUBLE) * CAST(COALESCE(tc.t, 0) AS DOUBLE) / CAST(pd.d * (pd.d - 1) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END", 8)} AS clustering
       |FROM pd LEFT JOIN tc ON tc.v = pd.v
       |ORDER BY triangles DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
    import s.implicits._
    val proj = projM(s, dir)
    // pd is read four times and oe three (wedge sides + the closing
    // edge join) — materialize each once (lazy checkpoint) so the
    // downstream self-joins read blocks instead of re-deriving the
    // projection aggregation per reference
    val pd = proj.select($"a".as("v")).union(proj.select($"b".as("v")))
      .groupBy($"v").agg(P.cnt.as("d"))
      .ckpt
    val lower = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    // the out-endpoint's degree rides along from the orientation join
    // itself (it is max(da, db) by construction) — deriving it here
    // saves the oe ⋈ pd join + checkpoint an earlier revision paid
    val oe = proj
      .join(pd.select($"v".as("a"), $"d".as("da")).hint("shuffle_hash"), "a")
      .join(pd.select($"v".as("b"), $"d".as("db")).hint("shuffle_hash"), "b")
      .select(when(lower, $"a").otherwise($"b").as("u"),
        when(lower, $"b").otherwise($"a").as("v"),
        when(lower, $"db").otherwise($"da").as("dv"))
      .ckpt
    // The closing edge side is data-scaling — never force-broadcast —
    // but |oe| is KNOWN here (the checkpoint blocks materialize on the
    // count), so the choice is size-driven exactly like the iteration
    // state joins (stateHint + the stateBroadcast killswitch): while the
    // oriented edge set fits a broadcast, the |wedges|-row relation (the
    // dominant intermediate, Σd_out² rows — 10M at sf0.1, 88 MB through
    // the r12 exchange) never crosses a shuffle at all; past the
    // threshold the close join degrades to the shuffled-hash 100 TB
    // path. Forcing shuffle_hash unconditionally (r12) paid that
    // exchange at every scale.
    val closing = oe.select($"u".as("x"), $"v".as("y"))
    val close =
      if (stateHint(oe.count()) && stateBroadcastAllowed(s)) broadcast(closing)
      else closing.hint("shuffle_hash")
    // A Bloom pre-filter on the closing-edge key (guide §3.2) was built,
    // measured and REJECTED in r20 — do not re-try without new data.
    // The idea: most wedges don't close, so probing a broadcast Bloom
    // over xxhash64(u→v) of oe ahead of the close join drops them
    // before the shuffle-path exchange. The data says otherwise on this
    // corpus: the capped projection is so clustered that 8.26M of the
    // 10.2M wedges at sf0.1 (81%, counted cross-engine in DuckDB) close
    // into triangles, so ANY exact pre-filter keeps ≥81% of the rows —
    // a ≤1.23× reduction bound. Measured: broadcast path 3.08→4.51 s
    // (pure probe overhead, no exchange exists to save); forced
    // shuffle path at the 5× replica 4.56→5.96 s min-of-3 with shuffle
    // only 462→393 MB — the 50M-wedge probe costs more wall than the
    // 15% exchange saving returns. Triangle-dense graphs are the
    // documented non-case for §3.2 ("a filter on it is selective" is
    // the precondition); the wedge volume bound here is the
    // Chiba–Nishizeki orientation itself (O(|E|^1.5)).
    val tri = oe.select($"u", $"v".as("x"), $"dv".as("dx"))
      .join(oe.select($"u", $"v".as("y"), $"dv".as("dy")).hint("shuffle_hash"), "u")
      .filter($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"))
      .join(close, Seq("x", "y"))
      .select($"u", $"x", $"y")
    // ONE pass over the wedge-close join: the 3-way union of corner
    // projections re-executed the whole triangle enumeration per branch
    // (the recompute defect class, 3× the dominant join)
    val tc = tri.select(explode(array($"u", $"x", $"y")).as("v"))
      .groupBy($"v").agg(P.cnt.as("t"))
    val t = coalesce($"t", lit(0L))
    pd.join(tc, Seq("v"), "left")
      .select(fmtNode($"v").as("node"), $"d".as("degree"), t.as("triangles"),
        P.prnd(when($"d" >= 2, lit(2.0) * t.cast("double")
          / ($"d" * ($"d" - 1)).cast("double")).otherwise(lit(0.0)), 8).as("clustering"))
      .orderBy($"triangles".desc, $"node").limit(20)
  }

  /** Unrolled k-core peel rounds in the oracle chain. Peeling at the
    * 75th-percentile degree reaches its fixpoint in 2 rounds on this
    * quasi-random graph at every generated SF (dense graphs collapse or
    * stabilize fast; deep cascades need lattice-like structure), so 4
    * carries a 2x margin; the oracle's fixpoint guard (last two keep
    * sets equal) makes an insufficient unroll fail loud, never silently
    * diverge from the Spark loop's true fixpoint.
    */
  private val KcRounds = 4

  /** Spark-side peel cap — generous; the loop breaks at the fixpoint
    * (peeling is monotone: alive sets only shrink, so an unchanged
    * count IS set equality), the cap only bounds a pathological graph.
    */
  private val KcMaxRounds = 12

  /** keep1/kc1..keepN/kcN CTE chain — unrolled k-core peel rounds over
    * `und` with K from the `kv` CTE, the SQL twin of [[grKcore]]'s loop.
    */
  private def kcChain(rounds: Int): String = {
    val base = "kc0 AS MATERIALIZED (SELECT node, nb FROM und)"
    val steps = (1 to rounds).map { i =>
      s"""keep$i AS MATERIALIZED (SELECT node FROM kc${i - 1}
         |  GROUP BY node HAVING COUNT(*) >= (SELECT k FROM kv)),
         |kc$i AS MATERIALIZED (SELECT c.node, c.nb FROM kc${i - 1} c
         |  JOIN keep$i a ON c.node = a.node JOIN keep$i b ON c.nb = b.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** K-core extraction (the "stable core" community panel — who remains
    * after fair-weather users are removed): iteratively delete nodes of
    * degree < K, where K is the 75th-percentile initial degree, until no
    * node falls below K; report each surviving node's within-core degree.
    *
    * K is DATA-DERIVED but engine-portable without floats: the degree
    * HISTOGRAM (bounded by distinct degree values, not |V| — the an_gini
    * discipline) gets an ordered prefix sum, and K is the smallest degree
    * v with 4·cum(v) ≥ 3·N — pure integer arithmetic, identical on both
    * engines, and the comparison never materializes 3N/4 as a float.
    *
    * Scale shape per round: one exchange-free degree aggregation over the
    * node-partitioned shared relation + two keyed semi-joins of the edge
    * relation against the |V|-row keep set — routed through the
    * size-driven [[stateJoin]] knob (at 100 TB the keep set outgrows any
    * broadcast). Peeling is monotone (alive sets only shrink), so the
    * convergence probe is a count comparison, and rounds are bounded by
    * the cascade depth — 2 here; O(peel depth) generally, each round a
    * constant number of shuffles. The full coreness decomposition (peel
    * at every k) is deliberately out of scope: this is the single-k
    * membership query a dashboard asks.
    */
  val grKcore = QueryDef(
    "gr_kcore",
    s"""WITH $eNumSql, $undSql,
       |kdeg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
       |  FROM und GROUP BY node),
       |khist AS MATERIALIZED (SELECT d AS v, CAST(COUNT(*) AS BIGINT) AS nd
       |  FROM kdeg GROUP BY d),
       |ktot AS MATERIALIZED (SELECT CAST(SUM(nd) AS BIGINT) AS ntot FROM khist),
       |kcum AS MATERIALIZED (SELECT v, SUM(nd) OVER (ORDER BY v) AS cum FROM khist),
       |kv AS MATERIALIZED (SELECT CAST(MIN(v) AS BIGINT) AS k FROM kcum, ktot
       |  WHERE 4 * cum >= 3 * ntot),
       |${kcChain(KcRounds)}
       |SELECT ${fmtNodeSql("node")} AS node, CAST(COUNT(*) AS BIGINT) AS core_degree,
       |  (SELECT k FROM kv) AS k
       |FROM kc$KcRounds
       |WHERE (SELECT COUNT(*) FROM keep${KcRounds - 1}) = (SELECT COUNT(*) FROM keep$KcRounds)
       |GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val und = sharedUnd(s, dir).select($"node", $"nb")
    // K from the degree histogram: the ordered prefix sum runs over
    // distinct DEGREE VALUES only (a global window over a bounded
    // relation — max degree entries, not |V|), then one integer filter
    val hist = und.groupBy($"node").agg(P.cnt.as("d"))
      .groupBy($"d".as("v")).agg(P.cnt.as("nd"))
    val cum = hist.select($"v",
      sum($"nd").over(Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
    // the 1-row K gate is consumed by EVERY peel round's keep filter plus
    // the final projection, and each of those is its own action — an
    // unmaterialized kdf re-ran the degree histogram + prefix-sum window
    // once per broadcast build (r19 IterProbe: 31 jobs for a 2-round
    // peel; 20 with the checkpoint). ckpt it once: every later broadcast
    // build is a 1-row checkpoint scan.
    val kdf = broadcast(
      cum.crossJoin(broadcast(hist.agg(sum($"nd").as("ntot"))))
        .filter($"cum" * 4 >= $"ntot" * 3)
        .agg(min($"v").as("k"))
        .ckpt)
    var cur = und
    var alive = -1L
    var rounds = 0
    var done = false
    while (!done && rounds < KcMaxRounds) {
      // keep set: exchange-free degree aggregation (first round rides the
      // node-partitioned cache) + the constant 1-row K broadcast
      val keep = cur.groupBy($"node").agg(P.cnt.as("dd"))
        .crossJoin(kdf).filter($"dd" >= $"k").select($"node")
        .ckpt
      val n = keep.count()
      if (n == alive) done = true
      else {
        alive = n
        val bcast = stateHint(n)
        // both endpoint filters against the |V|-scale keep set go through
        // the size-driven knob — never an unconditional broadcast
        cur = cur
          .join(stateJoin(keep.select($"node".as("ka")), bcast), $"node" === $"ka")
          .join(stateJoin(keep.select($"node".as("kb")), bcast), $"nb" === $"kb")
          .select($"node", $"nb")
          .ckpt
        rounds += 1
      }
    }
    cur.groupBy($"node").agg(P.cnt.as("core_degree"))
      .crossJoin(kdf)
      .select(fmtNode($"node").as("node"), $"core_degree", $"k")
      .orderBy($"node")
  }

  /** Degree assortativity coefficient — the Pearson correlation of
    * endpoint degrees over all edge endpoints (Newman's r): do hubs
    * connect to hubs (r>0, social-network shape) or to leaves (r<0,
    * hub-and-spoke)? The single number that summarizes the graph's
    * mixing pattern next to gr_graph_stats' density/clustering panel; a
    * bipartite customer↔supplier graph is expected disassortative.
    *
    * Exactness: the five endpoint sums accumulate INTEGER degree
    * products through decimal accumulators (HUGEINT in DuckDB), each
    * cast to double once; the closed-form correlation is then a fixed
    * sequence of IEEE ops (sqrt is correctly rounded by spec), so the
    * coefficient is bit-portable — no float accumulation order anywhere.
    *
    * Scale shape: one degree aggregation (exchange-free over the shared
    * node-partitioned relation) + two keyed joins of the |2E| endpoint
    * list against the |V|-row degree relation — both routed through the
    * size-driven [[stateJoin]] knob — into a single-row closed-form
    * aggregate with map-side partials. No window, no sort, nothing
    * driver-side but the 1-row result.
    */
  val grAssortativity = QueryDef(
    "gr_assortativity",
    s"""WITH $eNumSql, $undSql, $degSql,
       |aj AS MATERIALIZED (SELECT da.degree AS du, db.degree AS dv
       |  FROM und u JOIN deg da ON u.node = da.node JOIN deg db ON u.nb = db.node),
       |aa AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS m,
       |    CAST(SUM(du) AS DOUBLE) AS su, CAST(SUM(dv) AS DOUBLE) AS sv,
       |    CAST(SUM(du * dv) AS DOUBLE) AS suv,
       |    CAST(SUM(du * du) AS DOUBLE) AS suu,
       |    CAST(SUM(dv * dv) AS DOUBLE) AS svv,
       |    CAST(COUNT(*) AS BIGINT) AS m_ends
       |  FROM aj),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT n_nodes, CAST(m_ends // 2 AS BIGINT) AS m_edges,
       |  ${PS.prnd("CASE WHEN (m * suu - su * su) * (m * svv - sv * sv) <= 0.0 THEN 0.0 ELSE (m * suv - su * sv) / sqrt((m * suu - su * su) * (m * svv - sv * sv)) END", 8)} AS assortativity
       |FROM aa, nn""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val und = sharedUnd(s, dir)
    val deg = degrees(und).select($"node", $"degree").ckpt
    // the one driver action: materializes deg and sizes the state joins
    val n = deg.count()
    val bcast = stateHint(n)
    val aj = und.select($"node", $"nb")
      .join(stateJoin(deg.select($"node".as("a0"), $"degree".as("du")), bcast), $"node" === $"a0")
      .join(stateJoin(deg.select($"node".as("b0"), $"degree".as("dv")), bcast), $"nb" === $"b0")
      .select($"du", $"dv")
    val aa = aj.agg(
      count(lit(1)).cast("double").as("m"),
      sum($"du".cast(dec)).cast("double").as("su"),
      sum($"dv".cast(dec)).cast("double").as("sv"),
      sum(($"du" * $"dv").cast(dec)).cast("double").as("suv"),
      sum(($"du" * $"du").cast(dec)).cast("double").as("suu"),
      sum(($"dv" * $"dv").cast(dec)).cast("double").as("svv"),
      count(lit(1)).as("m_ends"))
    val den = ($"m" * $"suu" - $"su" * $"su") * ($"m" * $"svv" - $"sv" * $"sv")
    val r = when(den <= 0.0, lit(0.0))
      .otherwise(($"m" * $"suv" - $"su" * $"sv") / sqrt(den))
    aa.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select($"n_nodes", ($"m_ends".cast("long") / 2).cast("long").as("m_edges"),
        P.prnd(r, 8).as("assortativity"))
  }

  /** Walk length (edges) for [[grRandomWalks]] — DeepWalk-style corpora
    * use 40-80; 4 keeps the oracle's unrolled chain readable while the
    * Spark loop is length-generic.
    */
  private val WalkLen = 4

  /** Deterministic random-walk corpus — the sampling pass that turns a
    * graph into training sequences for skip-gram node embeddings
    * (DeepWalk/node2vec; the graph-side sibling of `etl_pack_sequences`'
    * text windows). One walk starts at every node; at step t the walk at
    * node u moves to the neighbor v minimizing md5(walk:t:v) — a hash-
    * derived uniform choice that is a pure function of (walk, step,
    * neighbor), so the whole corpus is reproducible across runs, engines
    * and partitionings (the etl_stratified_sample posture: never
    * rand()), while successive steps still decorrelate like random ones.
    *
    * Scale shape: each step is ONE keyed join of the |V|-row walk state
    * against the shared node-partitioned edge relation ([[sharedUnd]])
    * plus a min-struct hash aggregate (map-side partials pick each
    * walk's argmin — associative, so partition-invariant); state routes
    * through the size-driven [[stateJoin]] knob like every other
    * iteration, and per-round state lazily checkpoints (the pagerank
    * discipline). Total cost L·|E|-row joins — linear, no materialized
    * neighborhood lists, no driver-side stepping.
    */
  val grRandomWalks = QueryDef(
    "gr_random_walks", {
      val steps = (1 to WalkLen).map { t =>
        s"""w$t AS MATERIALIZED (SELECT wid, v AS cur,
           |    path || '>' || ${fmtNodeSql("v")} AS path FROM (
           |  SELECT w.wid, w.path, u.nb AS v,
           |    row_number() OVER (PARTITION BY w.wid
           |      ORDER BY md5(CAST(w.wid AS VARCHAR) || ':$t:' || CAST(u.nb AS VARCHAR)), u.nb) AS rn
           |  FROM w${t - 1} w JOIN und u ON u.node = w.cur) t WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $eNumSql, $undSql,
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
         |w0 AS MATERIALIZED (SELECT node AS wid, node AS cur,
         |  ${fmtNodeSql("node")} AS path FROM nodes),
         |$steps
         |SELECT ${fmtNodeSql("wid")} AS walk_id, path,
         |  CAST(len(list_distinct(string_split(path, '>'))) AS BIGINT) AS n_unique
         |FROM w$WalkLen""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val u = sharedUnd(s, dir)
    val nodes = u.select($"node").distinct()
    val bcast = stateHint(nodes.count())
    // Iteration state is (wid, cur) ONLY — the walk's path string is
    // functionally dependent on wid and would otherwise ride every
    // step's shuffle key, growing by a node id per round (the r11
    // slowest-query defect). Each step instead logs its chosen hop
    // (wid, t, v); the path assembles ONCE at the end from the step
    // log — a single extra shuffle of WalkLen·|V| narrow int rows with
    // a ≤WalkLen-element collect per walk (bounded map-side partials).
    var st = nodes.select($"node".as("wid"), $"node".as("cur"))
    val steps = Seq.newBuilder[DataFrame]
    for (t <- 1 to WalkLen) {
      val h = md5(concat($"wid".cast("string"), lit(s":$t:"), $"nb".cast("string")))
      st = u.join(stateJoin(st, bcast), $"node" === $"cur")
        .groupBy($"wid")
        .agg(min(struct(h.as("h"), $"nb".as("v"))).as("m"))
        .select($"wid", $"m.v".as("cur"))
        .ckpt
      steps += st.select($"wid", lit(t).as("t"), $"cur".as("v"))
    }
    steps.result().reduce(_ unionAll _)
      .groupBy($"wid")
      .agg(array_sort(collect_list(struct($"t", $"v"))).as("hs"))
      .select(fmtNode($"wid").as("walk_id"),
        concat_ws(">", concat(array(fmtNode($"wid")),
          transform($"hs", x => fmtNode(x.getField("v"))))).as("path"))
      .select($"walk_id", $"path",
        size(array_distinct(split($"path", ">"))).cast("long").as("n_unique"))
  }

  /** 2-hop ego network of the top-weighted-degree hub — the "user focus"
    * drill-down panel of a social dashboard: who the hub touches (1-hop),
    * who shares a counterparty with it (2-hop — in this bipartite graph,
    * same-type peers reached through a shared partner), and the edge/
    * weight mass inside the ego subgraph. Scale shape: the seed is a
    * TakeOrdered-1 row (constant, broadcast); each hop is a KEYED join
    * of the undirected relation against the previous frontier — the
    * 1-hop set of a real hub is data-scaling, so frontier and ego
    * membership joins stay unhinted/size-driven (semi-join by key, never
    * a collected id list); counts are scalar aggregates. This is one BFS
    * frontier step of gr_closeness's landmark machinery, surfaced as a
    * panel.
    */
  val grEgoNet = QueryDef(
    "gr_ego_net",
    s"""WITH $eNumSql,
       |$undSql,
       |wdeg AS MATERIALIZED (SELECT node, SUM(weight) AS wd FROM und GROUP BY node),
       |seed AS MATERIALIZED (SELECT node FROM wdeg ORDER BY wd DESC, node LIMIT 1),
       |h1 AS MATERIALIZED (SELECT DISTINCT nb AS node FROM und
       |  WHERE node = (SELECT node FROM seed)),
       |h2 AS MATERIALIZED (SELECT DISTINCT u.nb AS node
       |  FROM und u JOIN h1 ON u.node = h1.node
       |  WHERE u.nb <> (SELECT node FROM seed)
       |    AND u.nb NOT IN (SELECT node FROM h1)),
       |ego AS MATERIALIZED (SELECT node FROM seed
       |  UNION SELECT node FROM h1 UNION SELECT node FROM h2),
       |w_in AS MATERIALIZED (SELECT e.weight FROM e
       |  JOIN ego a ON e.src = a.node JOIN ego b ON e.dst = b.node)
       |SELECT (SELECT ${fmtNodeSql("node")} FROM seed) AS seed,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h1) AS n_1hop,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h2) AS n_2hop,
       |  CAST(COUNT(*) AS BIGINT) AS n_edges_ego,
       |  CAST(SUM(weight) AS BIGINT) AS w_ego
       |FROM w_in""".stripMargin) { (s, dir) =>
    import s.implicits._
    val e = edgesNum(s, dir)
    // deliberately the LAZY two-branch union over the edge checkpoint,
    // not sharedUnd: the bench clears the cache before every query, and
    // a sharedUnd reader pays the |2E| repartition+persist re-build on
    // its first sample — measured 1.0 → 1.4 s here for zero warm gain
    // (the one-pass aggregates don't iterate, so the partitioned cache
    // buys nothing a checkpoint scan doesn't)
    val und = undirected(e)
    // seed/h1/h2/ego each feed 2-4 downstream consumers (frontier joins,
    // counts, the ego-membership joins): materialize each once
    // (localCheckpoint — the MatStore anything-consumed-twice
    // discipline) so the |E| weighted-degree aggregate and the hop
    // joins never re-execute per consumer (r11 VERDICT: unmaterialized,
    // the whole chain ran 4x).
    val seed = und.groupBy($"node").agg(sum($"weight").as("wd"))
      .orderBy($"wd".desc, $"node").limit(1).select($"node".as("seed"))
      .ckpt
    val h1 = und.join(broadcast(seed), $"node" === $"seed")
      .select($"nb".as("node")).distinct()
      .ckpt
    // frontier expansion: und keyed on node against the (hub-sized,
    // data-scaling) 1-hop set — unhinted, so the planner/AQE picks by size
    val h2 = und.join(h1.withColumnRenamed("node", "fn"), $"node" === $"fn")
      .select($"nb".as("node")).distinct()
      .join(broadcast(seed), $"node" === $"seed", "left_anti")
      .join(h1, Seq("node"), "left_anti")
      .ckpt
    val ego = seed.select($"seed".as("node")).union(h1).union(h2).distinct()
      .ckpt
    val within = e
      .join(ego.withColumnRenamed("node", "sn"), $"src" === $"sn")
      .join(ego.withColumnRenamed("node", "dn"), $"dst" === $"dn")
    within.agg(P.cnt.as("n_edges_ego"), sum($"weight").cast("long").as("w_ego"))
      .crossJoin(broadcast(h1.agg(P.cnt.as("n_1hop"))))
      .crossJoin(broadcast(h2.agg(P.cnt.as("n_2hop"))))
      .crossJoin(broadcast(seed.select(fmtNode($"seed").as("seed"))))
      .select($"seed", $"n_1hop", $"n_2hop", $"n_edges_ego", $"w_ego")
  }

  // ---------------------------------------------- landmark error gate

  /** Probe-subgraph size of the landmark-centrality error gate: the
    * ProbeN smallest node ids. Constant, so the gate's work is bounded
    * at ProbeN² pairs at ANY corpus scale — the whole point: exact
    * all-sources centralities are feasible only on a bounded slice.
    */
  private val ProbeN = 40

  /** Unrolled row-based BFS chain from the sources CTE `srcCte`
    * (column `node`) over the induced probe edges `pu`, CTE names
    * `<pfx>0..<pfx>R` with rows (src, node, d). The exact twin of
    * [[clChain]]'s landmark chain, parameterized on the source set.
    */
  private def ceBfsChain(pfx: String, srcCte: String, rounds: Int): String = {
    val base = s"${pfx}0 AS (SELECT node AS src, node, 0 AS d FROM $srcCte)"
    val steps = (1 to rounds).map { i =>
      s"""$pfx$i AS (SELECT x.src, x.node, MIN(x.d) AS d FROM (
         |    SELECT src, node, d FROM $pfx${i - 1}
         |    UNION ALL
         |    SELECT p.src, u.node, p.d + 1 FROM pu u JOIN $pfx${i - 1} p ON u.nb = p.node) x
         |  GROUP BY x.src, x.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Unrolled row-based Brandes chain (forward σ + backward δ levels)
    * from the sources CTE over `pu` — the exact twin of [[bwChain]],
    * parameterized on the source set. Emits `<pfx>i` per node:
    * Σ_src floor(δ·1e9 + 0.5) as BIGINT (src ≠ node), the exact
    * integer the ranking and the error report both read.
    */
  private def ceBwChain(pfx: String, srcCte: String, rounds: Int): String = {
    val base =
      s"""${pfx}f0 AS (SELECT node AS src, node, 0 AS d, CAST(1 AS BIGINT) AS sig FROM $srcCte)""".stripMargin
    val fwd = (1 to rounds).map { i =>
      s"""${pfx}f${i}c AS (SELECT p.src, u.node, CAST(SUM(p.sig) AS BIGINT) AS sig
         |  FROM pu u JOIN ${pfx}f${i - 1} p ON u.nb = p.node AND p.d = ${i - 1}
         |  GROUP BY p.src, u.node),
         |${pfx}f$i AS (SELECT src, node, d, sig FROM ${pfx}f${i - 1}
         |  UNION ALL
         |  SELECT c.src, c.node, $i AS d, c.sig FROM ${pfx}f${i}c c
         |  WHERE NOT EXISTS (SELECT 1 FROM ${pfx}f${i - 1} p
         |    WHERE p.node = c.node AND p.src = c.src))""".stripMargin
    }
    val dag =
      s"""${pfx}dag AS (SELECT v.src, v.node AS v, v.d AS dv, v.sig AS sv,
         |    w.node AS w, w.sig AS sw
         |  FROM pu u
         |  JOIN ${pfx}f$rounds v ON u.node = v.node
         |  JOIN ${pfx}f$rounds w ON u.nb = w.node AND w.src = v.src AND w.d = v.d + 1)""".stripMargin
    val bwdBase =
      s"""${pfx}d$rounds AS (SELECT node, src, CAST(0.0 AS DOUBLE) AS delta
         |  FROM ${pfx}f$rounds WHERE d = $rounds)""".stripMargin
    val bwd = ((rounds - 1) to 0 by -1).map { r =>
      s"""${pfx}d$r AS (SELECT g.v AS node, g.src,
         |  ${PS.dsum(PS.prnd("(CAST(g.sv AS DOUBLE) / CAST(g.sw AS DOUBLE)) * (CAST(1.0 AS DOUBLE) + COALESCE(d2.delta, CAST(0.0 AS DOUBLE)))", 9), 9)} AS delta
         |  FROM ${pfx}dag g LEFT JOIN ${pfx}d${r + 1} d2 ON g.w = d2.node AND g.src = d2.src
         |  WHERE g.dv = $r
         |  GROUP BY g.v, g.src)""".stripMargin
    }
    val unionDl = (0 to rounds).map(r => s"SELECT node, src, delta FROM ${pfx}d$r").mkString(" UNION ALL ")
    val fin =
      s"""${pfx}dl AS MATERIALIZED (SELECT node, src, CAST(floor(delta * 1e9 + 0.5) AS BIGINT) AS di
         |  FROM ($unionDl) WHERE node <> src)""".stripMargin
    ((base +: fwd) ++ Seq(dag, bwdBase) ++ bwd :+ fin).mkString(",\n")
  }

  /** Per-node Σ floor(δ·1e9) over a SUBSET of the probe sources — the
    * per-src deltas are independent, so both the exact (all probe
    * sources) and the landmark (pivot subset) accumulations read the
    * ONE Brandes detail relation `dlCte` instead of re-running the
    * whole forward+backward chain per source set.
    */
  private def ceBwAggSql(name: String, dlCte: String, srcCte: Option[String]): String = {
    val filt = srcCte.map(c => s" JOIN $c l ON x.src = l.node").getOrElse("")
    s"""$name AS (SELECT n.node,
       |  CAST(COALESCE(SUM(x.di), 0) AS BIGINT) AS ib
       |  FROM pn n LEFT JOIN (SELECT x.node, x.di FROM $dlCte x$filt) x
       |    ON x.node = n.node
       |  GROUP BY n.node)""".stripMargin
  }

  /** Probe prelude CTEs shared by the error gate and the tuning panel:
    * pn (the ProbeN smallest ids), pnn, pu (induced undirected edges).
    * The production landmark seeds live in [[ceSeedSql]] (error gate
    * only — the tuning panel derives its own per-config seeds).
    */
  private def ceProbeSql: String =
    s"""pn AS MATERIALIZED (SELECT node FROM (
       |  SELECT DISTINCT node FROM und ORDER BY node LIMIT $ProbeN)),
       |pnn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM pn),
       |pu AS MATERIALIZED (SELECT u.node, u.nb, u.weight FROM und u
       |  JOIN pn a ON u.node = a.node JOIN pn b ON u.nb = b.node)""".stripMargin

  /** The production landmark rule applied to the probe, at the
    * closeness and betweenness K — appended by the error gate only (the
    * tuning panel derives its own per-config seeds).
    */
  private def ceSeedSql: String =
    s"""plmkc AS MATERIALIZED (SELECT node FROM ${lmkSeedSql("pu", ClLandmarks)}),
       |plmkb AS MATERIALIZED (SELECT node FROM ${lmkSeedSql("pu", BwLandmarks)})""".stripMargin

  /** Capped-distance closeness total over a SUBSET of the probe BFS
    * detail `<pfx><rounds>` (rows (src, node, d)): per node,
    * baseExpr − Σ over reached (src, node) pairs of (rounds+1 − d).
    * `srcCte = None` is the exact all-sources total; `Some(cte)`
    * restricts to the landmark set — per-src BFS rows are independent,
    * so the landmark side is a membership filter of the SAME detail,
    * never a second chain.
    */
  private def ceClosTotSql(pfx: String, srcCte: Option[String],
      baseExpr: String, rounds: Int): String = {
    val filt = srcCte.map(c => s" JOIN $c l ON x.src = l.node").getOrElse("")
    s"""SELECT n.node,
       |    $baseExpr - CAST(COALESCE(SUM(${rounds + 1} - d.d), 0) AS BIGINT) AS tot
       |  FROM pn n LEFT JOIN (SELECT x.node, x.d FROM $pfx$rounds x$filt) d
       |    ON d.node = n.node
       |  GROUP BY n.node""".stripMargin
  }

  /** Unrolled row-based WEIGHTED-distance chain from the sources CTE
    * `srcCte` (column `node`) over the induced probe edges `pu`, CTE
    * names `<pfx>0..<pfx>R` with rows (src, node, d) where d is the
    * exact BIGINT sum of edge weights along the lightest ≤R-relaxation
    * path — the probe twin of [[cwChain]]'s recurrence, parameterized
    * on the source set (r18: the weighted fidelity gate).
    */
  private def ceWdChain(pfx: String, srcCte: String, rounds: Int): String = {
    val base = s"${pfx}0 AS MATERIALIZED (SELECT node AS src, node, CAST(0 AS BIGINT) AS d FROM $srcCte)"
    val steps = (1 to rounds).map { i =>
      s"""$pfx$i AS MATERIALIZED (SELECT x.src, x.node, MIN(x.d) AS d FROM (
         |    SELECT src, node, d FROM $pfx${i - 1}
         |    UNION ALL
         |    SELECT p.src, u.node, p.d + u.weight FROM pu u JOIN $pfx${i - 1} p ON u.nb = p.node) x
         |  GROUP BY x.src, x.node)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Capped WEIGHTED closeness total over a SUBSET of the probe
    * weighted-distance detail `<pfx><rounds>` (rows (src, node, d)):
    * per node, baseExpr − Σ over reached pairs with d < [[ClWCap]] of
    * (ClWCap − d) — i.e. Σ_src min(d, cap) with unreached → cap,
    * exactly [[closenessW]]'s `when(d.isNull || d > cap, cap)` rule.
    * Same membership-filter design as [[ceClosTotSql]]: the landmark
    * side reads the SAME detail, never a second chain.
    */
  private def ceWClosTotSql(pfx: String, srcCte: Option[String],
      baseExpr: String, rounds: Int): String = {
    val filt = srcCte.map(c => s" JOIN $c l ON x.src = l.node").getOrElse("")
    s"""SELECT n.node,
       |    $baseExpr - CAST(COALESCE(SUM(CASE WHEN d.d < $ClWCap THEN $ClWCap - d.d ELSE 0 END), 0) AS BIGINT) AS tot
       |  FROM pn n LEFT JOIN (SELECT x.node, x.d FROM $pfx$rounds x$filt) d
       |    ON d.node = n.node
       |  GROUP BY n.node""".stripMargin
  }

  /** Unrolled row-based WEIGHTED Brandes chain from the sources CTE
    * over `pu` — the probe twin of [[bwwChain]]'s three passes
    * (weighted relax rounds, σ forward relaxations over the weighted
    * DAG, δ backward relaxations), parameterized on the source set.
    * Emits `<pfx>dl` rows (node, src, di = floor(δ·1e9 + 0.5) BIGINT,
    * node ≠ src) — per-src deltas are independent, so the exact and
    * landmark accumulations are src-membership filters of this ONE
    * relation ([[ceBwAggSql]]), exactly like the unweighted gate.
    */
  private def ceBwwChain(pfx: String, srcCte: String, rounds: Int,
      dagIters: Int): String = {
    val wd = ceWdChain(s"${pfx}w", srcCte, rounds)
    // DAG edge v→w for source s iff d(w) = d(v) + weight(v,w); positive
    // weights mean no DAG edge enters the source, so the pinned
    // σ(src)=1 base row never collides with an aggregated row
    val dag =
      s"""${pfx}dag AS MATERIALIZED (SELECT v.src, v.node AS v, w.node AS w
         |  FROM pu u
         |  JOIN ${pfx}w$rounds v ON u.node = v.node
         |  JOIN ${pfx}w$rounds w ON u.nb = w.node AND w.src = v.src AND w.d = v.d + u.weight)""".stripMargin
    val sigBase =
      s"""${pfx}s0 AS MATERIALIZED (SELECT node AS src, node, CAST(1 AS BIGINT) AS sig FROM $srcCte)""".stripMargin
    val sig = (1 to dagIters).map { t =>
      s"""${pfx}s$t AS MATERIALIZED (
         |  SELECT node AS src, node, CAST(1 AS BIGINT) AS sig FROM $srcCte
         |  UNION ALL
         |  SELECT g.src, g.w AS node, CAST(SUM(p.sig) AS BIGINT) AS sig
         |  FROM ${pfx}dag g JOIN ${pfx}s${t - 1} p ON g.v = p.node AND g.src = p.src
         |  GROUP BY g.src, g.w)""".stripMargin
    }
    val dagR =
      s"""${pfx}dag2 AS MATERIALIZED (SELECT g.src, g.v, g.w,
         |    CAST(sv.sig AS DOUBLE) / CAST(sw.sig AS DOUBLE) AS rt
         |  FROM ${pfx}dag g
         |  JOIN ${pfx}s$dagIters sv ON g.v = sv.node AND g.src = sv.src
         |  JOIN ${pfx}s$dagIters sw ON g.w = sw.node AND g.src = sw.src)""".stripMargin
    val dltBase =
      s"""${pfx}d0 AS MATERIALIZED (SELECT n.node, l.node AS src, CAST(0.0 AS DOUBLE) AS delta
         |  FROM pn n CROSS JOIN $srcCte l)""".stripMargin
    val dlt = (1 to dagIters).map { t =>
      s"""${pfx}d$t AS MATERIALIZED (SELECT n.node, l.node AS src, COALESCE(a.delta, CAST(0.0 AS DOUBLE)) AS delta
         |  FROM pn n CROSS JOIN $srcCte l
         |  LEFT JOIN (
         |    SELECT g.v AS node, g.src,
         |      ${PS.dsum(PS.prnd("g.rt * (CAST(1.0 AS DOUBLE) + d.delta)", 9), 9)} AS delta
         |    FROM ${pfx}dag2 g JOIN ${pfx}d${t - 1} d ON g.w = d.node AND g.src = d.src
         |    GROUP BY g.v, g.src) a ON a.node = n.node AND a.src = l.node)""".stripMargin
    }
    val fin =
      s"""${pfx}dl AS MATERIALIZED (SELECT node, src, CAST(floor(delta * 1e9 + 0.5) AS BIGINT) AS di
         |  FROM ${pfx}d$dagIters WHERE node <> src)""".stripMargin
    ((wd +: Seq(dag, sigBase)) ++ sig ++ Seq(dagR, dltBase) ++ dlt :+ fin)
      .mkString(",\n")
  }

  /** Probe slice (pn, pu) — MatStore-memoized so the error gate and the
    * tuning panel share ONE materialization of the slice (and of the
    * BFS / Brandes details below) per session.
    */
  private def probeRel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val pn = MatStore.of(s, s"ce_probe_nodes:$dir") {
      sharedUnd(s, dir).select($"node").distinct()
        .orderBy($"node").limit(ProbeN)
    }
    val pu = MatStore.of(s, s"ce_probe_edges:$dir") {
      sharedUnd(s, dir)
        .join(broadcast(pn.select($"node".as("pa"))), $"node" === $"pa")
        .join(broadcast(pn.select($"node".as("pb"))), $"nb" === $"pb")
        .select($"node", $"nb", $"weight")
    }
    (pn, pu)
  }

  /** The production landmark rule applied to the probe subgraph: top-K
    * of `pu`'s degree aggregate (degree DESC, node ASC) — the probe
    * twin of [[landmarkSeed]], kept as a relation (not a collect) so
    * both consumers stay fully declarative.
    */
  private def probeLmk(pu: DataFrame, k: Int): DataFrame = {
    val s = pu.sparkSession
    import s.implicits._
    pu.groupBy($"node").agg(count(lit(1)).as("dg"))
      .orderBy($"dg".desc, $"node".asc).limit(k).select($"node")
  }

  /** Row-based BFS detail (src, node, d) from ALL probe nodes over the
    * induced probe edges, [[ClRounds]] rounds — the oracle chain's
    * recurrence, memoized once per session (both the error gate's exact
    * AND landmark closeness totals and every tuning-panel config read
    * this one relation).
    */
  private def probeBfsDetail(s: SparkSession, dir: String): DataFrame =
    MatStore.of(s, s"ce_probe_bfs:$dir") {
      import s.implicits._
      val (pn, pu) = probeRel(s, dir)
      var d = pn.select($"node".as("src"), $"node", lit(0).as("d")).ckpt
      for (_ <- 1 to ClRounds) {
        d = d.union(
            pu.join(d.select($"src", $"node".as("pn2"), $"d"), $"nb" === $"pn2")
              .select($"src", $"node", ($"d" + 1).as("d")))
          .groupBy($"src", $"node").agg(min($"d").as("d"))
          .ckpt
      }
      d
    }

  /** Row-based Brandes detail (node, src, di = floor(δ·1e9 + 0.5)) from
    * ALL probe nodes, [[BwRounds]] rounds — exact BIGINT per (src, node),
    * memoized once per session; exact and landmark accumulations are
    * src-membership filters of this one relation.
    */
  private def probeBrandesDetail(s: SparkSession, dir: String): DataFrame =
    MatStore.of(s, s"ce_probe_brandes:$dir") {
      import s.implicits._
      val (pn, pu) = probeRel(s, dir)
      val rounds = BwRounds
      var bf = pn.select($"node".as("src"), $"node", lit(0).as("d"),
        lit(1L).as("sig")).ckpt
      for (i <- 1 to rounds) {
        val c = pu.join(
            bf.filter($"d" === i - 1).select($"src", $"node".as("pn2"), $"sig"),
            $"nb" === $"pn2")
          .groupBy($"src", $"node").agg(sum($"sig").cast("long").as("sig"))
        bf = bf.union(
            c.join(bf.select($"src", $"node"), Seq("src", "node"), "left_anti")
              .select($"src", $"node", lit(i).as("d"), $"sig"))
          .ckpt
      }
      val sv = bf.select($"src", $"node".as("v"), $"d".as("dv"), $"sig".as("sv"))
      val sw = bf.select($"src".as("src2"), $"node".as("w"), $"d".as("dw"), $"sig".as("sw"))
      val dag = pu.join(sv, $"node" === $"v")
        .join(sw, $"nb" === $"w" && $"src" === $"src2" && $"dw" === $"dv" + 1)
        .select($"src", $"v", $"dv", $"sv", $"w", $"sw").ckpt
      var dl = bf.filter($"d" === rounds)
        .select($"node", $"src", lit(0.0).as("delta")).ckpt
      val levels = scala.collection.mutable.ArrayBuffer(dl)
      for (r <- (rounds - 1) to 0 by -1) {
        dl = dag.filter($"dv" === r)
          .join(dl.select($"node".as("w2"), $"src".as("src3"), $"delta"),
            $"w" === $"w2" && $"src" === $"src3", "left")
          .groupBy($"v", $"src")
          .agg(P.dsum(P.prnd(($"sv".cast("double") / $"sw".cast("double")) *
            (lit(1.0) + coalesce($"delta", lit(0.0))), 9), 9).as("delta"))
          .select($"v".as("node"), $"src", $"delta")
          .ckpt
        levels += dl
      }
      levels.reduce(_ union _).filter($"node" =!= $"src")
        .select($"node", $"src",
          floor($"delta" * 1e9 + 0.5).cast("long").as("di"))
    }

  /** Row-based WEIGHTED-distance detail (src, node, d) from ALL probe
    * nodes over the induced weighted probe edges, `rounds` synchronous
    * Bellman-Ford relaxations — [[ceWdChain]]'s recurrence, memoized
    * per round count (closeness_w reads [[ClWRounds]], betweenness_w
    * [[BwWRounds]]). Exact BIGINT distances; bounded by ProbeN² rows.
    */
  private def probeWdDetail(s: SparkSession, dir: String, rounds: Int): DataFrame =
    MatStore.of(s, s"ce_probe_wd$rounds:$dir") {
      import s.implicits._
      val (pn, pu) = probeRel(s, dir)
      var d = pn.select($"node".as("src"), $"node", lit(0L).as("d")).ckpt
      for (_ <- 1 to rounds) {
        d = d.union(
            pu.join(d.select($"src", $"node".as("pn2"), $"d"), $"nb" === $"pn2")
              .select($"src", $"node", ($"d" + $"weight").as("d")))
          .groupBy($"src", $"node").agg(min($"d").as("d"))
          .ckpt
      }
      d
    }

  /** Row-based WEIGHTED Brandes detail (node, src, di = floor(δ·1e9+0.5))
    * from ALL probe nodes — [[ceBwwChain]]'s three passes ([[BwWRounds]]
    * weighted relax rounds, [[BwWDagIters]] σ forward and δ backward
    * relaxations over the weighted shortest-path DAG), memoized once per
    * session; exact and landmark accumulations are src-membership
    * filters of this one relation ([[ceBwAgg]]).
    */
  private[graft] def probeBrandesWDetail(s: SparkSession, dir: String): DataFrame =
    MatStore.of(s, s"ce_probe_brandes_w:$dir") {
      import s.implicits._
      val (pn, pu) = probeRel(s, dir)
      val dW = probeWdDetail(s, dir, BwWRounds)
      val sv = dW.select($"src", $"node".as("v"), $"d".as("dv"))
      val sw = dW.select($"src".as("src2"), $"node".as("w"), $"d".as("dw"))
      val dag = pu.join(sv, $"node" === $"v")
        .join(sw, $"nb" === $"w" && $"src" === $"src2" && $"dw" === $"dv" + $"weight")
        .select($"src", $"v", $"w").ckpt
      val pinned = pn.select($"node".as("src"), $"node", lit(1L).as("sig"))
      var sig = pinned.ckpt
      for (_ <- 1 to BwWDagIters) {
        sig = pinned.union(
            dag.join(sig.select($"src".as("src3"), $"node".as("v2"), $"sig"),
                $"src" === $"src3" && $"v" === $"v2")
              .groupBy($"src", $"w").agg(sum($"sig").cast("long").as("sig"))
              .select($"src", $"w".as("node"), $"sig"))
          .ckpt
      }
      val sv2 = sig.select($"src".as("sa"), $"node".as("v2"), $"sig".as("sv"))
      val sw2 = sig.select($"src".as("sb"), $"node".as("w2"), $"sig".as("sw"))
      val dagR = dag.join(sv2, $"src" === $"sa" && $"v" === $"v2")
        .join(sw2, $"src" === $"sb" && $"w" === $"w2")
        .select($"src", $"v", $"w",
          ($"sv".cast("double") / $"sw".cast("double")).as("rt"))
        .ckpt
      val dense = pn.select($"node").crossJoin(pn.select($"node".as("src2")))
      var dlt = dense.select($"node", $"src2".as("src"), lit(0.0).as("delta")).ckpt
      for (_ <- 1 to BwWDagIters) {
        val agg = dagR.join(dlt.select($"node".as("w3"), $"src".as("src4"), $"delta"),
            $"w" === $"w3" && $"src" === $"src4")
          .groupBy($"v", $"src")
          .agg(P.dsum(P.prnd($"rt" * (lit(1.0) + $"delta"), 9), 9).as("adelta"))
          .select($"v".as("n2"), $"src".as("s2"), $"adelta")
        dlt = dense.join(agg, $"node" === $"n2" && $"src2" === $"s2", "left")
          .select($"node", $"src2".as("src"),
            coalesce($"adelta", lit(0.0)).as("delta"))
          .ckpt
      }
      dlt.filter($"node" =!= $"src")
        .select($"node", $"src",
          floor($"delta" * 1e9 + 0.5).cast("long").as("di"))
    }

  /** [[ceWClosTotSql]]'s Spark twin over the memoized weighted detail:
    * per node, base − Σ over reached pairs with d < cap of (cap − d).
    */
  private def ceWClosTot(pn: DataFrame, d: DataFrame, srcs: Option[DataFrame],
      base: Long): DataFrame = {
    val s = pn.sparkSession
    import s.implicits._
    val det = srcs.map(l =>
        d.join(broadcast(l.select($"node".as("lsrc"))), $"src" === $"lsrc"))
      .getOrElse(d)
    pn.join(det.select($"node", $"d"), Seq("node"), "left")
      .groupBy($"node")
      .agg((lit(base) - coalesce(
        sum(when($"d" < ClWCap, lit(ClWCap) - $"d").otherwise(0L)),
        lit(0L)).cast("long")).as("tot"))
  }

  /** [[ceClosTotSql]]'s Spark twin over the memoized BFS detail. */
  private def ceClosTot(pn: DataFrame, d: DataFrame, srcs: Option[DataFrame],
      base: Long, rounds: Int): DataFrame = {
    val s = pn.sparkSession
    import s.implicits._
    val det = srcs.map(l =>
        d.join(broadcast(l.select($"node".as("lsrc"))), $"src" === $"lsrc"))
      .getOrElse(d)
    pn.join(det.select($"node", $"d"), Seq("node"), "left")
      .groupBy($"node")
      .agg((lit(base) -
        coalesce(sum(lit(rounds + 1) - $"d"), lit(0L)).cast("long")).as("tot"))
  }

  /** [[ceBwAggSql]]'s Spark twin over the memoized Brandes detail. */
  private def ceBwAgg(pn: DataFrame, dl: DataFrame,
      srcs: Option[DataFrame]): DataFrame = {
    val s = pn.sparkSession
    import s.implicits._
    val det = srcs.map(l =>
        dl.join(broadcast(l.select($"node".as("lsrc"))), $"src" === $"lsrc"))
      .getOrElse(dl)
    pn.join(det.select($"node", $"di"), Seq("node"), "left")
      .groupBy($"node")
      .agg(coalesce(sum($"di"), lit(0L)).cast("long").as("ib"))
  }

  /** One metric's report SELECT over a rank relation (re, ra, ve, va) —
    * shared by both metrics so the rounding/overlap rules cannot
    * desynchronize between them (the Scala side factors the same way).
    */
  private def ceReportSql(metric: String, rel: String): String =
    s"""SELECT '$metric' AS metric, * FROM (
       |    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
       |      ${PS.prnd("CASE WHEN COUNT(*) > 1 THEN 1.0 - (6.0 * CAST(SUM((re - ra) * (re - ra)) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0)) ELSE NULL END", 6)} AS spearman,
       |      CAST(SUM(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0 AS top10_overlap,
       |      ${PS.prnd(PS.dsum(PS.prnd("abs(va - ve)", 9), 9) + " / COUNT(*)", 6)} AS mean_abs_err,
       |      ${PS.prnd("MAX(" + PS.prnd("abs(va - ve)", 9) + ")", 6)} AS max_abs_err
       |    FROM $rel)""".stripMargin

  /** Landmark-centrality ERROR gate (r15 verdict item 3) — the graph
    * family's `dd_recall`/`sim_recall` twin: the landmark estimators
    * ([[closeness]], [[betweenness]]) are spec-verified on toy graphs,
    * but no oracled query measured what the K-source approximation
    * costs on the actual corpus. This one does, in the only setting
    * where exact is affordable: the induced subgraph of the [[ProbeN]]
    * smallest node ids (deterministic id-slice; the reference computes
    * exact centralities over its whole — small — graph,
    * network_analysis.py:145-155). Per metric:
    *
    *  - EXACT: all-sources BFS (closeness) / all-sources Brandes
    *    (betweenness) within the probe subgraph, the same round caps
    *    as production so the measured gap isolates the LANDMARK
    *    sampling error (K sources vs all |P| sources), not the depth
    *    bound;
    *  - APPROX: the production landmark rule (K smallest ids) applied
    *    to the same subgraph;
    *  - report: Spearman rank correlation (ranks by exact integer
    *    keys — total capped distance ASC / Σ floor(δ·1e9) DESC, node
    *    id ties — so the correlation is exact integer arithmetic until
    *    one final divide), top-10 overlap, and mean/max absolute error
    *    between the comparable per-source-averaged values.
    *
    * r18 adds the WEIGHTED rows (`closeness_w`, `betweenness_w`) — the
    * reference's `distance='weight'` semantics
    * (network_analysis.py:145-155), the last unmeasured estimators in
    * the family: exact is all probe sources through [[probeWdDetail]] /
    * [[probeBrandesWDetail]] (the production Bellman-Ford round caps
    * and σ/δ DAG iteration bounds, so the gap isolates the K-source
    * sampling error exactly as the unweighted rows do), landmark is the
    * production max-degree K=[[ClLandmarks]]/[[BwLandmarks]] rule as a
    * src-membership filter of the SAME weighted details.
    *
    * Scale shape: every relation after the probe slice is bounded by
    * the CONSTANT ProbeN (≤ ProbeN² BFS pairs), so the gate costs the
    * same at any corpus scale; the slice itself is one top-K over the
    * shared node relation and the induced-edge join probes the shared
    * edge relation once with two broadcast semi-joins.
    */
  val grCentralityErr = QueryDef(
    "gr_centrality_err",
    s"""WITH $eNumSql, $undSql,
       |$ceProbeSql,
       |$ceSeedSql,
       |${ceBfsChain("cex", "pn", ClRounds)},
       |cet AS MATERIALIZED (${ceClosTotSql("cex", None, s"(SELECT np FROM pnn) * ${ClRounds + 1}", ClRounds)}),
       |clt AS MATERIALIZED (${ceClosTotSql("cex", Some("plmkc"), s"${ClLandmarks * (ClRounds + 1)}", ClRounds)}),
       |${ceBwChain("bex", "pn", BwRounds)},
       |${ceBwAggSql("bibe", "bexdl", None)},
       |${ceBwAggSql("bibl", "bexdl", Some("plmkb"))},
       |${ceWdChain("cwx", "pn", ClWRounds)},
       |cwt AS MATERIALIZED (${ceWClosTotSql("cwx", None, s"(SELECT np FROM pnn) * $ClWCap", ClWRounds)}),
       |cwl AS MATERIALIZED (${ceWClosTotSql("cwx", Some("plmkc"), s"${ClLandmarks * ClWCap}", ClWRounds)}),
       |${ceBwwChain("bwx", "pn", BwWRounds, BwWDagIters)},
       |${ceBwAggSql("bwbe", "bwxdl", None)},
       |${ceBwAggSql("bwbl", "bwxdl", Some("plmkb"))},
       |crank AS MATERIALIZED (SELECT e.node,
       |    ROW_NUMBER() OVER (ORDER BY e.tot ASC, e.node ASC) AS re,
       |    ROW_NUMBER() OVER (ORDER BY l.tot ASC, l.node ASC) AS ra,
       |    CAST((SELECT np FROM pnn) AS DOUBLE) / CAST(e.tot AS DOUBLE) AS ve,
       |    CAST($ClLandmarks AS DOUBLE) / CAST(l.tot AS DOUBLE) AS va
       |  FROM cet e JOIN clt l ON e.node = l.node),
       |brank AS MATERIALIZED (SELECT e.node,
       |    ROW_NUMBER() OVER (ORDER BY e.ib DESC, e.node ASC) AS re,
       |    ROW_NUMBER() OVER (ORDER BY l.ib DESC, l.node ASC) AS ra,
       |    CAST(e.ib AS DOUBLE) / 1e9 / CAST((SELECT np FROM pnn) AS DOUBLE) AS ve,
       |    CAST(l.ib AS DOUBLE) / 1e9 / CAST($BwLandmarks AS DOUBLE) AS va
       |  FROM bibe e JOIN bibl l ON e.node = l.node),
       |cwrank AS MATERIALIZED (SELECT e.node,
       |    ROW_NUMBER() OVER (ORDER BY e.tot ASC, e.node ASC) AS re,
       |    ROW_NUMBER() OVER (ORDER BY l.tot ASC, l.node ASC) AS ra,
       |    CAST((SELECT np FROM pnn) AS DOUBLE) / CAST(e.tot AS DOUBLE) AS ve,
       |    CAST($ClLandmarks AS DOUBLE) / CAST(l.tot AS DOUBLE) AS va
       |  FROM cwt e JOIN cwl l ON e.node = l.node),
       |bwrank AS MATERIALIZED (SELECT e.node,
       |    ROW_NUMBER() OVER (ORDER BY e.ib DESC, e.node ASC) AS re,
       |    ROW_NUMBER() OVER (ORDER BY l.ib DESC, l.node ASC) AS ra,
       |    CAST(e.ib AS DOUBLE) / 1e9 / CAST((SELECT np FROM pnn) AS DOUBLE) AS ve,
       |    CAST(l.ib AS DOUBLE) / 1e9 / CAST($BwLandmarks AS DOUBLE) AS va
       |  FROM bwbe e JOIN bwbl l ON e.node = l.node),
       |rep AS MATERIALIZED (
       |  ${ceReportSql("closeness", "crank")}
       |  UNION ALL
       |  ${ceReportSql("betweenness", "brank")}
       |  UNION ALL
       |  ${ceReportSql("closeness_w", "cwrank")}
       |  UNION ALL
       |  ${ceReportSql("betweenness_w", "bwrank")})
       |SELECT metric, n_probe, spearman, top10_overlap, mean_abs_err, max_abs_err
       |FROM rep ORDER BY metric""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (pn, pu) = probeRel(s, dir)
    val np = pn.count() // bounded by the constant ProbeN
    val lmkC = probeLmk(pu, ClLandmarks)
    val lmkB = probeLmk(pu, BwLandmarks)
    // per metric: exact/approx integer rank keys + comparable values
    def report(metric: String, ranked: DataFrame): DataFrame = {
      val n = $"n".cast("double")
      ranked
        .agg(P.cnt.as("n_probe"),
          sum(($"re" - $"ra") * ($"re" - $"ra")).as("sd2"),
          sum(when($"re" <= 10 && $"ra" <= 10, 1).otherwise(0)).as("ov"),
          P.dsum(P.prnd(abs($"va" - $"ve"), 9), 9).as("sae"),
          max(P.prnd(abs($"va" - $"ve"), 9)).as("mxe"),
          P.cnt.as("n"))
        .select(lit(metric).as("metric"), $"n_probe",
          P.prnd(when($"n" > 1,
            lit(1.0) - (lit(6.0) * $"sd2".cast("double")) / (n * (n * n - 1.0)))
            .otherwise(lit(null).cast("double")), 6).as("spearman"),
          ($"ov".cast("double") / 10.0).as("top10_overlap"),
          P.prnd($"sae" / $"n_probe", 6).as("mean_abs_err"),
          P.prnd($"mxe", 6).as("max_abs_err"))
    }
    // ONE all-sources BFS + ONE all-sources Brandes; the landmark sides
    // are src-membership filters of the same details (per-src rows are
    // independent), so the gate costs half what the two-chain version did
    val d = probeBfsDetail(s, dir)
    val ce = ceClosTot(pn, d, None, np * (ClRounds + 1), ClRounds)
      .select($"node", $"tot".as("tot_e"))
    val cl = ceClosTot(pn, d, Some(lmkC),
        ClLandmarks.toLong * (ClRounds + 1), ClRounds)
      .select($"node".as("node2"), $"tot".as("tot_l"))
    val crank = ce.join(cl, $"node" === $"node2")
      .select($"node",
        row_number().over(Window.orderBy($"tot_e".asc, $"node".asc)).as("re"),
        row_number().over(Window.orderBy($"tot_l".asc, $"node2".asc)).as("ra"),
        (lit(np).cast("double") / $"tot_e".cast("double")).as("ve"),
        (lit(ClLandmarks).cast("double") / $"tot_l".cast("double")).as("va"))
      .ckpt
    val dl = probeBrandesDetail(s, dir)
    val be = ceBwAgg(pn, dl, None).select($"node", $"ib".as("ib_e"))
    val bl = ceBwAgg(pn, dl, Some(lmkB)).select($"node".as("node2"), $"ib".as("ib_l"))
    val brank = be.join(bl, $"node" === $"node2")
      .select($"node",
        row_number().over(Window.orderBy($"ib_e".desc, $"node".asc)).as("re"),
        row_number().over(Window.orderBy($"ib_l".desc, $"node2".asc)).as("ra"),
        ($"ib_e".cast("double") / 1e9 / lit(np).cast("double")).as("ve"),
        ($"ib_l".cast("double") / 1e9 / lit(BwLandmarks).cast("double")).as("va"))
      .ckpt
    // r18: the WEIGHTED legs (the reference's distance='weight'
    // semantics) — same one-detail/membership-filter design; exact is
    // all probe sources through the production round caps, landmark is
    // the production max-degree K rule on the same detail
    val dw = probeWdDetail(s, dir, ClWRounds)
    val cwe = ceWClosTot(pn, dw, None, np * ClWCap)
      .select($"node", $"tot".as("tot_e"))
    val cwl = ceWClosTot(pn, dw, Some(lmkC), ClLandmarks.toLong * ClWCap)
      .select($"node".as("node2"), $"tot".as("tot_l"))
    val cwrank = cwe.join(cwl, $"node" === $"node2")
      .select($"node",
        row_number().over(Window.orderBy($"tot_e".asc, $"node".asc)).as("re"),
        row_number().over(Window.orderBy($"tot_l".asc, $"node2".asc)).as("ra"),
        (lit(np).cast("double") / $"tot_e".cast("double")).as("ve"),
        (lit(ClLandmarks).cast("double") / $"tot_l".cast("double")).as("va"))
      .ckpt
    val dlw = probeBrandesWDetail(s, dir)
    val bwe = ceBwAgg(pn, dlw, None).select($"node", $"ib".as("ib_e"))
    val bwl = ceBwAgg(pn, dlw, Some(lmkB)).select($"node".as("node2"), $"ib".as("ib_l"))
    val bwrank = bwe.join(bwl, $"node" === $"node2")
      .select($"node",
        row_number().over(Window.orderBy($"ib_e".desc, $"node".asc)).as("re"),
        row_number().over(Window.orderBy($"ib_l".desc, $"node2".asc)).as("ra"),
        ($"ib_e".cast("double") / 1e9 / lit(np).cast("double")).as("ve"),
        ($"ib_l".cast("double") / 1e9 / lit(BwLandmarks).cast("double")).as("va"))
      .ckpt
    report("closeness", crank).union(report("betweenness", brank))
      .union(report("closeness_w", cwrank)).union(report("betweenness_w", bwrank))
      .orderBy($"metric")
  }

  /** Landmark-seed tuning curve (r16 verdict item 1, the `dd_lsh_tuning`
    * posture): closeness Spearman ρ + top-10 overlap vs exact on the
    * probe subgraph, per (metric × seed strategy × K) — the measurement
    * that CHOSE the production max-degree/K=[[ClLandmarks]] rule and
    * keeps the decision data, not lore. r18 extends the panel with the
    * WEIGHTED closeness metric and a `max_wdegree` strategy (top-K by
    * summed edge weight — Brandes & Pich 2007's question whether the
    * weighted estimator wants a distance-weighted pivot), so the
    * weighted seed choice is measured ACROSS strategies, not just at
    * the production rule. Measured: max_wdegree edges max_degree by
    * < 0.01 ρ at the production K=24 on sf0.01 (0.942 vs 0.934
    * weighted; 0.913 vs 0.904 hop) but collapses at small K (0.41–0.62
    * vs 0.54–0.77) and loses at sf0.001 (hop 0.894 vs 0.988; weighted
    * 0.982 vs 0.987) — the production max-degree rule keeps the
    * K- and corpus-robust seed, now on data for both distance
    * semantics. Every config reads the ONE memoized all-sources detail
    * of its metric (a landmark total is a src-membership filter), so
    * the 24-config panel costs one bounded ProbeN² BFS + one weighted
    * Bellman-Ford detail plus 24 constant-size aggregations.
    */
  private val TuneKs = Seq(4, 8, 16, 24)
  private val TuneStrategies = Seq("max_degree", "max_wdegree", "smallest_id")

  /** Top-K probe nodes by summed edge weight (weight DESC, node ASC) —
    * the distance-weighted pivot candidate of the tuning panel.
    */
  private def probeLmkW(pu: DataFrame, k: Int): DataFrame = {
    val s = pu.sparkSession
    import s.implicits._
    pu.groupBy($"node").agg(sum($"weight").as("wd"))
      .orderBy($"wd".desc, $"node".asc).limit(k).select($"node")
  }

  private def lmkSeedWSql(undCte: String, k: Int): String =
    s"""(SELECT node FROM (SELECT node, SUM(weight) AS wd FROM $undCte
       |  GROUP BY node ORDER BY wd DESC, node LIMIT $k))""".stripMargin

  val grCentralityTuning = QueryDef(
    "gr_centrality_tuning", {
      val cfgs = for {
        m <- Seq("closeness", "closeness_w"); st <- TuneStrategies; k <- TuneKs
      } yield (m, st, k)
      def seedSql(st: String, k: Int) = st match {
        case "smallest_id" => s"(SELECT node FROM pn ORDER BY node LIMIT $k)"
        case "max_degree"  => lmkSeedSql("pu", k)
        case "max_wdegree" => lmkSeedWSql("pu", k)
      }
      val cfgCtes = cfgs.map { case (m, st, k) =>
        val a = s"tl_${m}_${st}_$k"
        val tot = m match {
          case "closeness" =>
            ceClosTotSql("cex", Some(s"${a}s"), s"${k * (ClRounds + 1)}", ClRounds)
          case "closeness_w" =>
            ceWClosTotSql("cwx", Some(s"${a}s"), s"${k * ClWCap}", ClWRounds)
        }
        val exact = if (m == "closeness") "cet" else "cwt"
        s"""${a}s AS MATERIALIZED (SELECT node FROM ${seedSql(st, k)}),
           |${a}t AS MATERIALIZED ($tot),
           |${a}r AS MATERIALIZED (SELECT e.node,
           |    ROW_NUMBER() OVER (ORDER BY e.tot ASC, e.node ASC) AS re,
           |    ROW_NUMBER() OVER (ORDER BY l.tot ASC, l.node ASC) AS ra
           |  FROM $exact e JOIN ${a}t l ON e.node = l.node)""".stripMargin
      }.mkString(",\n")
      val reports = cfgs.map { case (m, st, k) =>
        s"""SELECT '$m' AS metric, '$st' AS strategy, CAST($k AS BIGINT) AS k, * FROM (
           |  SELECT ${PS.prnd("CASE WHEN COUNT(*) > 1 THEN 1.0 - (6.0 * CAST(SUM((re - ra) * (re - ra)) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0)) ELSE NULL END", 6)} AS spearman,
           |    CAST(SUM(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0 AS top10_overlap
           |  FROM tl_${m}_${st}_${k}r)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $eNumSql, $undSql,
         |$ceProbeSql,
         |${ceBfsChain("cex", "pn", ClRounds)},
         |cet AS MATERIALIZED (${ceClosTotSql("cex", None, s"(SELECT np FROM pnn) * ${ClRounds + 1}", ClRounds)}),
         |${ceWdChain("cwx", "pn", ClWRounds)},
         |cwt AS MATERIALIZED (${ceWClosTotSql("cwx", None, s"(SELECT np FROM pnn) * $ClWCap", ClWRounds)}),
         |$cfgCtes
         |SELECT metric, strategy, k, spearman, top10_overlap FROM (
         |$reports
         |) ORDER BY metric, strategy, k""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (pn, pu) = probeRel(s, dir)
    val np = pn.count() // bounded by the constant ProbeN
    val dHop = probeBfsDetail(s, dir)
    val dW = probeWdDetail(s, dir, ClWRounds)
    val ceHop = ceClosTot(pn, dHop, None, np * (ClRounds + 1), ClRounds)
      .select($"node", $"tot".as("tot_e"))
    val ceW = ceWClosTot(pn, dW, None, np * ClWCap)
      .select($"node", $"tot".as("tot_e"))
    val cfgs = for {
      m <- Seq("closeness", "closeness_w"); st <- TuneStrategies; k <- TuneKs
    } yield (m, st, k)
    val reports = cfgs.map { case (m, st, k) =>
      val seed = st match {
        case "smallest_id" => pn.orderBy($"node").limit(k)
        case "max_degree"  => probeLmk(pu, k)
        case "max_wdegree" => probeLmkW(pu, k)
      }
      val (exact, tl) = m match {
        case "closeness" => (ceHop,
          ceClosTot(pn, dHop, Some(seed), k.toLong * (ClRounds + 1), ClRounds))
        case "closeness_w" => (ceW,
          ceWClosTot(pn, dW, Some(seed), k.toLong * ClWCap))
      }
      val ranked = exact.join(
          tl.select($"node".as("node2"), $"tot".as("tot_l")), $"node" === $"node2")
        .select(
          row_number().over(Window.orderBy($"tot_e".asc, $"node".asc)).as("re"),
          row_number().over(Window.orderBy($"tot_l".asc, $"node2".asc)).as("ra"))
      val n = $"n".cast("double")
      ranked
        .agg(sum(($"re" - $"ra") * ($"re" - $"ra")).as("sd2"),
          sum(when($"re" <= 10 && $"ra" <= 10, 1).otherwise(0)).as("ov"),
          P.cnt.as("n"))
        .select(lit(m).as("metric"), lit(st).as("strategy"), lit(k.toLong).as("k"),
          P.prnd(when(n > 1,
            lit(1.0) - (lit(6.0) * $"sd2".cast("double")) / (n * (n * n - 1.0)))
            .otherwise(lit(null).cast("double")), 6).as("spearman"),
          ($"ov".cast("double") / 10.0).as("top10_overlap"))
    }
    reports.reduce(_ union _).orderBy($"metric", $"strategy", $"k")
  }

  val defs: Seq[QueryDef] = Seq(grEdges, grDegree, grDegreeDirected,
    grDegreeBuckets, grPagerank, grEigenvector, grComponents, grCloseness,
    grClosenessW, grBetweenness, grBetweennessW, grInfluencers,
    grCommunities, grCommunityStats,
    grCommunityNames, grModularity, grLouvain, grLouvainMl, grLouvainAgree,
    grGraphStats, grLinkPredict,
    grTriangles, grKcore, grAssortativity, grRandomWalks, grEgoNet,
    grCentralityErr, grCentralityTuning, grCommunityQuality)
}
