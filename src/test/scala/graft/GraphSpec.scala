package graft

import org.apache.spark.sql.functions._

class GraphSpec extends GraftSuite {

  test("steady-state iteration round shuffles no edge data") {
    // The property the whole iterative-graph design rests on (SURVEY §5,
    // PLANS.md pagerank_round): with the edge relation cached under its
    // hash partitioning and |V|-row state broadcast, a round's join +
    // aggregation must plan NO shuffle exchange — only the state's
    // BroadcastExchange. A regression here (e.g. a materialization that
    // hides the partitioning from the planner) re-exchanges |E| rows
    // every round at any scale.
    import spark.implicits._
    import operators.GraphOps
    val u = GraphOps.sharedUnd(spark, sfDir)
    val wdeg = u.groupBy($"node").agg(sum($"weight").as("wd")).localCheckpoint(true)
    val norm = u.join(broadcast(wdeg), "node")
      .select($"node".as("src"), $"nb".as("dst"), ($"weight" / $"wd").as("p"))
      .repartition($"dst").persist()
    norm.count() // finalize the cached partitioning (AQE reports it post-exec)
    try {
      val ranks = wdeg.select($"node", lit(1.0).as("r")).localCheckpoint(true)
      val round = norm
        .join(broadcast(ranks.withColumnRenamed("node", "src0")), $"src" === $"src0")
        .groupBy($"dst").agg(sum($"r" * $"p").as("contrib"))
      // execute THIS QueryExecution (round.count() would build a separate
      // one and leave round's AdaptiveSparkPlan un-finalized — the
      // assertion would then inspect the initial plan, not what ran)
      round.queryExecution.toRdd.count()
      val plan = round.queryExecution.executedPlan.toString
      // Everything printed below InMemoryTableScan is the cached
      // relation's ONE-TIME build (whose repartition exchange is the
      // point); the round itself is the slice above it and must contain
      // no shuffle exchange.
      val roundSlice = plan.split("InMemoryTableScan", 2)(0)
      assert(!roundSlice.contains("Exchange hashpartitioning"),
        s"steady-state round re-shuffles:\n$roundSlice")
      assert(roundSlice.contains("BroadcastHashJoin"), "state should broadcast-join")
    } finally norm.unpersist()
  }

  test("louvain sweeps converge and improve modularity over the LPA partition") {
    val lpa = run("gr_modularity").collect()(0)
    val ref = run("gr_louvain").collect()(0)
    val qLpa = lpa.getAs[Double]("modularity")
    val qRef = ref.getAs[Double]("modularity")
    // Tolerance, not strict monotonicity: simultaneous moves scored
    // against the pre-move configuration are not monotone in Q in
    // general (multiple nodes converging on one community interact), so
    // "never lowers Q" is an empirical property of this corpus, not an
    // invariant of the sweep. Converged on this corpus the refined
    // partition reaches Q = 0 — the greedy optimum for a graph with no
    // assortative structure (any split of this dense quasi-random
    // bipartite graph scores Q < 0, so the sweeps legitimately merge
    // everything; the LPA panel stays the segmentation view).
    assert(qRef >= qLpa - 1e-9, s"refined Q $qRef < LPA Q $qLpa - eps")
    assert(ref.getAs[Long]("n_moved") >= 0L)
    assert(ref.getAs[Long]("n_sweeps") >= 1L)
    assert(ref.getAs[Long]("n_communities") <= lpa.getAs[Long]("n_communities"))
    assert(ref.getAs[Long]("n_communities") >= 1L)
  }

  test("louvain: planted modular graph reaches a 2-community fixpoint with positive Q") {
    // r13 verdict stretch item: the corpus graph has no assortative
    // structure, so gr_louvain honestly converges to 1 community there
    // (the planted corpus specs cover that). This plants a graph that
    // HAS structure — two dense customer×supplier blocks (pair weight 2)
    // joined by one weak cross edge — and asserts the LPA + move-down
    // sweep pipeline lands on the true 2-block partition with the
    // hand-computed modularity, not a degenerate fixpoint.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_louvain").toString
    Seq((100L, 10L), (101L, 11L), (102L, 12L), (103L, 30L), (104L, 31L),
      (105L, 32L), (106L, 12L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val blockA = Seq(100L, 101L, 102L)
      .flatMap(o => Seq(20L, 20L, 21L, 21L, 22L, 22L).map(sp => (o, sp)))
    val blockB = Seq(103L, 104L, 105L)
      .flatMap(o => Seq(50L, 50L, 51L, 51L, 52L, 52L).map(sp => (o, sp)))
    (blockA ++ blockB :+ ((106L, 50L)))
      .toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val row = Registry.byName("gr_louvain").run(spark, dir).collect()(0)
    assert(row.getAs[Long]("n_communities") === 2L,
      s"expected the 2 planted blocks, got ${row.getAs[Long]("n_communities")}")
    assert(row.getAs[Long]("n_moved") > 0L, "the sweep should move the LPA side-labels down")
    // hand-computed Q of the block partition: one-directional weight
    // 18+18+1 = 37, so w2 = 74; win = 36 per block (both directions),
    // wtot = 37 per block (the cross edge adds 1 to each side):
    // Q = 2·(36/74 − (37/74)²) = 0.472972973…
    val q = row.getAs[Double]("modularity")
    assert(math.abs(q - 0.472972973) < 1e-6, s"modularity $q")
    assert(q > 0.0)
  }

  test("louvain multi-level: planted hierarchy resolves coarse blocks single-level cannot") {
    // r14 verdict item 1: a planted HIERARCHICAL graph — two coarse
    // blocks (A, B) of three dense sub-blocks each. Inter-sub-block ties
    // are sized so NO single border node gains by moving (level 1
    // honestly stalls at the 6 sub-blocks) while whole-sub-block merges
    // DO gain (the coarse level resolves A and B) — the exact situation
    // the reference's multi-level louvain_communities handles and a
    // single move level cannot.
    //
    // Construction (one-directional edge weights): each sub-block is a
    // 4-customer × 4-supplier biclique with pair weight 2 (internal 32;
    // LPA needs internal ties STRICTLY heavier than inter ties or its
    // weighted votes leak across sub-blocks). All inter edges are unit:
    // SB1↔SB2 and SB1↔SB3 in both orientations (custs_i×sups_j and
    // custs_j×sups_i, 32 each — SB1 is the heaviest attractor, so the
    // down-only coarse sweeps converge on its label in one sweep) and
    // SB2→SB3 single orientation (16); one weight-1 A–B cross edge
    // keeps the graph connected. Totals: one-directional 6·32 +
    // 2·(32+32+16) + 1 = 353, so w2 = 706; sub-block und-degree totals
    // 129/112/112 per coarse block (the cross edge rides on SB1/SB4).
    //
    // Hand-computed gains (score = w2·w(n→c) − deg(n)·wtot'(c)):
    //  level 1, worst border node (an SB1 customer, deg 16): stay
    //  706·8 − 16·113 = 3840 > best move 706·4 − 16·112 = 1032 — every
    //  node stalls inside its sub-block;
    //  level 2, super-node SB2 (deg 112): move to SB1 706·32 − 112·129 =
    //  8144 > stay 0 — the coarse level merges each block.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_louvain_ml").toString
    // sub-block k: customers custs(k), suppliers sups(k)
    val custs = Seq(Seq(10L, 11L, 12L, 13L), Seq(14L, 15L, 16L, 17L),
      Seq(18L, 19L, 20L, 21L), Seq(40L, 41L, 42L, 43L),
      Seq(44L, 45L, 46L, 47L), Seq(48L, 49L, 50L, 51L))
    val sups = Seq(Seq(20L, 21L, 22L, 23L), Seq(24L, 25L, 26L, 27L),
      Seq(28L, 29L, 30L, 31L), Seq(60L, 61L, 62L, 63L),
      Seq(64L, 65L, 66L, 67L), Seq(68L, 69L, 70L, 71L))
    // one order per customer; edge weight = lineitem count per (cust, sup)
    val orders = custs.flatten.map(c => (c * 100L, c))
    val li = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def order(c: Long) = c * 100L
    // internal bicliques, pair weight 2
    for (b <- 0 until 6; c <- custs(b); sp <- sups(b); _ <- 1 to 2) li += ((order(c), sp))
    // unit inter edges, all pairs of the given orientation
    def inter(ci: Seq[Long], sj: Seq[Long]): Unit =
      for (c <- ci; sp <- sj) li += ((order(c), sp))
    for (base <- Seq(0, 3)) {
      inter(custs(base), sups(base + 1)); inter(custs(base + 1), sups(base)) // SB1↔SB2: 32
      inter(custs(base), sups(base + 2)); inter(custs(base + 2), sups(base)) // SB1↔SB3: 32
      inter(custs(base + 1), sups(base + 2)) // SB2→SB3: 16
    }
    li += ((order(10L), 60L)) // the weak A–B cross edge
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    li.toSeq.toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val single = Registry.byName("gr_louvain").run(spark, dir).collect()(0)
    assert(single.getAs[Long]("n_communities") === 6L,
      s"single-level should stall at the 6 sub-blocks, got ${single.getAs[Long]("n_communities")}")
    val q6 = 384.0 / 706.0 -
      2.0 * (129.0 * 129 + 112.0 * 112 + 112.0 * 112) / (706.0 * 706.0)
    assert(math.abs(single.getAs[Double]("modularity") - q6) < 1e-6,
      s"single-level Q ${single.getAs[Double]("modularity")} vs hand-computed $q6")
    val ml = Registry.byName("gr_louvain_ml").run(spark, dir).collect()(0)
    assert(ml.getAs[Long]("n_communities") === 2L,
      s"multi-level should reach the 2 coarse blocks, got ${ml.getAs[Long]("n_communities")}")
    assert(ml.getAs[Long]("n_levels") === 2L,
      s"one coarse level should move (then fixpoint), got ${ml.getAs[Long]("n_levels")}")
    assert(ml.getAs[Long]("n_moved") > 0L)
    // Q(A|B): und-internal per block 352, block degree total 353
    val q2 = 352.0 / 353.0 - 0.5
    val qMl = ml.getAs[Double]("modularity")
    assert(math.abs(qMl - q2) < 1e-6, s"multi-level Q $qMl vs hand-computed $q2")
    assert(qMl > single.getAs[Double]("modularity") + 0.05,
      "the coarse level must strictly improve modularity here")
  }

  test("edges exclude the bot-account keys and carry positive weights") {
    val e = run("gr_edges")
    assert(e.count() > 0)
    assert(e.filter(col("src").isin("c1", "c2") || col("dst") === "s1").count() === 0)
    assert(e.filter(col("weight") <= 0).count() === 0)
  }

  test("pagerank mass sums to ~1") {
    val total = run("gr_pagerank").agg(sum("pagerank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4, s"pagerank sum was $total")
  }

  test("eigenvector centrality is L2-normalized and positive") {
    val rows = run("gr_eigenvector").collect()
    assert(rows.nonEmpty)
    val sumSq = rows.map(r => math.pow(r.getAs[Double]("eigenvector"), 2)).sum
    assert(math.abs(sumSq - 1.0) < 1e-4, s"L2 norm^2 was $sumSq")
    assert(rows.forall(_.getAs[Double]("eigenvector") > 0))
  }

  test("landmark betweenness: nonnegative, hub-discriminating, all nodes") {
    val rows = run("gr_betweenness_approx").collect()
    val nodes = operators.GraphOps.undirected(operators.GraphOps.edges(spark, sfDir))
      .select("node").distinct().count()
    assert(rows.length === nodes)
    assert(rows.forall(_.getAs[Double]("betweenness") >= 0.0))
    // a path-sampled centrality that can't tell nodes apart is broken
    assert(rows.map(_.getAs[Double]("betweenness")).distinct.length > 10)
  }

  test("weighted centralities: toy graph matches brute-force Dijkstra/Brandes") {
    // The r13 verdict's top item: the reference measures closeness and
    // betweenness with edge weight as DISTANCE (nx distance='weight');
    // this hand-verifies the weighted landmark operators against an
    // independent driver-side Dijkstra + Brandes on a toy graph where
    // weighted shortest paths DIFFER from hop paths: heavy direct edges
    // 1-4 (w10) and 1-6 (w9) are undercut by chains of light edges, and
    // 2-4 (w2) creates equal-weight alternatives so σ > 1 is exercised.
    import spark.implicits._
    import operators.GraphOps
    val ew: Seq[(Long, Long, Long)] = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L),
      (2L, 4L, 2L), (4L, 5L, 2L), (5L, 6L, 2L), (1L, 6L, 9L), (2L, 7L, 1L))
    val und = (ew ++ ew.map(e => (e._2, e._1, e._3))).toDF("node", "nb", "weight")
    val nodes = (1L to 7L).toSeq
    val adj: Map[Long, Seq[(Long, Long)]] =
      (ew ++ ew.map(e => (e._2, e._1, e._3)))
        .groupBy(_._1).map { case (n, es) => n -> es.map(e => (e._2, e._3)) }
    def dijkstra(src: Long): Map[Long, Long] = {
      val dist = scala.collection.mutable.Map[Long, Long](src -> 0L)
      val done = scala.collection.mutable.Set[Long]()
      while ((dist.keySet diff done).nonEmpty) {
        val u = (dist.keySet diff done).minBy(dist)
        done += u
        for ((v, w) <- adj(u)) {
          val nd = dist(u) + w
          if (!dist.contains(v) || nd < dist(v)) dist(v) = nd
        }
      }
      dist.toMap
    }
    // maxDegreeSeed (r17) = k highest-degree nodes, ties by smallest id:
    // deg(2)=deg(4)=4, deg(1)=3 on this toy graph
    val pivots = Seq(2L, 4L, 1L)
    // closeness_w(v) = k / Σ_l min(dist_w(v, l), 100): exact integer sum,
    // one double division — the Spark result must match bit-for-bit
    val dists = pivots.map(dijkstra)
    val gotC = GraphOps.closenessW(und, k = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (v <- nodes) {
      val tot = dists.map(d => math.min(d.getOrElse(v, Long.MaxValue), 100L)).sum
      assert(gotC(v) === 3.0 / tot.toDouble, s"closeness_w($v)")
    }
    // the weighted paths genuinely differ from hops: d_w(1,4) = 3 via the
    // light chain, not the direct w10 edge (hop distance is 1)
    assert(dijkstra(1L)(4L) === 3L)
    // betweenness_w: brute-force Brandes from the same pivots (weighted
    // Dijkstra, σ path counts, δ accumulation in decreasing-distance
    // order), score = Σ_l δ_l(v ≠ l) / k
    def brandes(src: Long): Map[Long, Double] = {
      val dist = dijkstra(src)
      val order = dist.toSeq.sortBy(_._2).map(_._1)
      val sigma = scala.collection.mutable.Map[Long, Double](src -> 1.0)
      for (v <- order if v != src)
        sigma(v) = adj(v).collect {
          case (u, w) if dist.contains(u) && dist(u) + w == dist(v) => sigma(u)
        }.sum
      val delta = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- order.reverse) {
        for ((w, wt) <- adj(v) if dist.contains(w) && dist(w) == dist(v) + wt)
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
      }
      delta.toMap.withDefaultValue(0.0)
    }
    val deltas = pivots.map(brandes)
    val gotB = GraphOps.betweennessW(und, k = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (v <- nodes) {
      val exp = pivots.zip(deltas).collect { case (p, d) if p != v => d(v) }.sum / 3.0
      assert(math.abs(gotB(v) - exp) < 1e-6, s"betweenness_w($v): ${gotB(v)} vs $exp")
    }
    // the toy exercises real mass: some node strictly between others
    assert(gotB.values.max > 0.0)
  }

  test("weighted centralities: convergence short-circuit exits before the round caps") {
    // r14 verdict item 6: the relax/σ/δ loops previously ran their fixed
    // caps even after reaching their fixpoint. With caps raised far past
    // the toy graph's weighted hop depth, every loop must stop early
    // (the exact monotone-sum fixpoint probes — an empty relax frontier;
    // unchanged per-landmark σ/δ sums) and the scores must be
    // cap-invariant (the brute-force parity test above pins the values
    // themselves; CORRECTNESS pins the corpus hashes).
    import spark.implicits._
    import operators.GraphOps
    val ew: Seq[(Long, Long, Long)] = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L),
      (2L, 4L, 2L), (4L, 5L, 2L), (5L, 6L, 2L), (1L, 6L, 9L), (2L, 7L, 1L))
    val und = (ew ++ ew.map(e => (e._2, e._1, e._3))).toDF("node", "nb", "weight")
    val probes = scala.collection.mutable.Map.empty[String, Int]
    val got = GraphOps.betweennessW(und, k = 3, rounds = 20, dagIters = 20,
      probe = (ph, n) => probes(ph) = n).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probes("relax") < 20, s"relax must converge early: $probes")
    assert(probes("sigma") < 20, s"sigma must converge early: $probes")
    assert(probes("delta") < 20, s"delta must converge early: $probes")
    val ref = GraphOps.betweennessW(und, k = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === ref, "betweenness_w must be cap-invariant past convergence")
    val probesC = scala.collection.mutable.Map.empty[String, Int]
    val gotC = GraphOps.closenessW(und, k = 3, rounds = 20,
      probe = (ph, n) => probesC(ph) = n).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probesC("relax") < 20, s"closeness relax must converge early: $probesC")
    val refC = GraphOps.closenessW(und, k = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotC === refC, "closeness_w must be cap-invariant past convergence")
  }

  test("shortest-path kernels: a Landmarks run equals the All run filtered to its sources") {
    // gr_centrality_err reads each landmark estimate as a src-membership
    // filter of the all-sources probe detail. That is honest only if a
    // kernel's per-source values do not depend on the layout it runs on:
    // checked for hop d, weighted d, hop δ and weighted δ (nanounits) on
    // the weighted toy graph above (every node a source) and on the
    // corpus graph (every node a source, the production K and caps).
    import spark.implicits._
    import operators.GraphOps
    import operators.GraphOps.{Landmarks, Layout}
    // (src, node, value) of every non-null per-source value, node ≠ src
    // for δ; δ read as floor(δ·1e9 + 0.5), the gate's nanounits
    def perSource(df: org.apache.spark.sql.DataFrame, L: Layout, base: String,
        delta: Boolean): Seq[(Long, Long, Long)] = {
      val srcs = L match {
        case l: Landmarks => l.ids.toSeq.zipWithIndex.map { case (id, i) => (lit(id), i) }
        case _ => Seq((col("src"), 0))
      }
      srcs.map { case (src, i) =>
        val v = col(L.c(base, i))
        df.filter(v.isNotNull && (if (delta) col("node") =!= src else lit(true)))
          .select(src.cast("long"), col("node"),
            (if (delta) floor(v * 1e9 + 0.5) else v).cast("long"))
      }.reduce(_ union _).as[(Long, Long, Long)].collect().toSeq.sorted
    }
    def agree(u: org.apache.spark.sql.DataFrame, kd: Int, kb: Int,
        hop: Int, relax: Int, bHop: Int, bRelax: Int, dagIters: Int): Unit = {
      val all = GraphOps.allSources(u.select($"node").distinct())
      def check(what: String, k: Int, run: Layout => org.apache.spark.sql.DataFrame,
          base: String, delta: Boolean): Unit = {
        val lmk = GraphOps.landmarks(u, k)
        val want = perSource(run(all), all, base, delta).filter(t => lmk.ids.contains(t._1))
        val got = perSource(run(lmk), lmk, base, delta)
        assert(got.nonEmpty, s"$what: no values")
        assert(got === want, s"$what: Landmarks(${lmk.ids.mkString(",")}) differs from All")
      }
      check("hop d", kd, L => GraphOps.bfsKernel(u, L, hop, sigma = false), "d", delta = false)
      check("weighted d", kd, L => GraphOps.relaxKernel(u, L, relax), "d", delta = false)
      check("hop delta", kb, L => GraphOps.brandesKernel(u, L,
        GraphOps.bfsKernel(u, L, bHop, sigma = true), bHop), "pd", delta = true)
      check("weighted delta", kb, L => GraphOps.brandesWKernel(u, L,
        GraphOps.relaxKernel(u, L, bRelax), dagIters), "p", delta = true)
    }
    val ew: Seq[(Long, Long, Long)] = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 10L),
      (2L, 4L, 2L), (4L, 5L, 2L), (5L, 6L, 2L), (1L, 6L, 9L), (2L, 7L, 1L))
    val toy = (ew ++ ew.map(e => (e._2, e._1, e._3))).toDF("node", "nb", "weight")
    agree(toy, kd = 3, kb = 3, hop = 4, relax = 5, bHop = 4, bRelax = 5, dagIters = 5)
    // the production caps: closeness K=24 over 6 hop / 8 relax rounds,
    // betweenness K=8 over 4 hop / 5 relax rounds and 5 σ/δ rounds
    agree(GraphOps.sharedUnd(spark, sfDir), kd = 24, kb = 8,
      hop = 6, relax = 8, bHop = 4, bRelax = 5, dagIters = 5)
  }

  test("every node gets a component and labels are canonical members") {
    val comp = run("gr_components")
    val nodes = operators.GraphOps.undirected(operators.GraphOps.edges(spark, sfDir))
      .select("node").distinct().count()
    assert(comp.count() === nodes)
    // component label is itself a node of the component
    assert(comp.filter(col("comp") > col("node")).count() === 0)
  }

  test("influencers are 20 deterministic rows with scores in [0,1]") {
    val rows = run("gr_influencers").collect()
    assert(rows.length === 20)
    assert(rows.forall { r =>
      val s = r.getAs[Double]("score"); s >= 0.0 && s <= 1.0
    })
  }

  test("label propagation yields multiple non-degenerate communities") {
    val com = run("gr_communities")
    val n = com.count()
    val k = com.select("community").distinct().count()
    assert(k > 1, s"expected >1 community, got $k")
    assert(k < n, s"labels must have propagated (got $k communities for $n nodes)")
  }

  test("community stats member counts cover all nodes, multiple communities") {
    val stats = run("gr_community_stats")
    val nodes = run("gr_components").count()
    assert(stats.agg(sum("n_members")).head().getLong(0) === nodes)
    assert(stats.count() > 1, "community table must not be the degenerate single row")
  }

  test("directed degrees: out mass equals in mass and covers all edges") {
    val agg = run("gr_degree_directed")
      .agg(sum("out_degree"), sum("in_degree"), sum("out_weight"), sum("in_weight")).head()
    val nEdges = run("gr_edges").count()
    assert(agg.getLong(0) === nEdges)
    assert(agg.getLong(1) === nEdges)
    assert(agg.getLong(2) === agg.getLong(3))
  }

  test("non-broadcast iteration state matches the broadcast path") {
    import operators.GraphOps
    // the 100 TB regime: |V| outgrows a broadcast and iteration state goes
    // through a shuffled hash join against the node-partitioned edge
    // relation. Exact-arithmetic states (min-label, integer votes) must
    // match bitwise; double-valued states only up to shuffle-merge fp
    // reordering.
    val u = GraphOps.iterRelation(GraphOps.undirected(GraphOps.edgesNum(spark, sfDir)))
    def byNode(df: org.apache.spark.sql.DataFrame, v: String): Map[Long, Double] =
      df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Double](v)).toMap
    def close(a: Map[Long, Double], b: Map[Long, Double]): Unit = {
      assert(a.keySet === b.keySet)
      val worst = a.map { case (k, v) => math.abs(v - b(k)) }.max
      assert(worst < 1e-9, s"max path divergence $worst")
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("node").collect().toSeq
    // each kernel's state joins are planned, and its results collected,
    // under the session's spark.graft.stateBroadcast setting
    def results(): (Map[Long, Double], Map[Long, Double],
        Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) =
      (byNode(GraphOps.pagerank(u, iters = 3), "r"),
        byNode(GraphOps.eigenvector(u, iters = 2), "x"),
        rows(GraphOps.components(u, uncheckedRounds = 2)),
        rows(GraphOps.communities(u, iters = 2)))
    val (pr, ev, cc, lp) = results()
    spark.conf.set("spark.graft.stateBroadcast", "false")
    val (prOff, evOff, ccOff, lpOff) =
      try results() finally spark.conf.unset("spark.graft.stateBroadcast")
    close(prOff, pr)
    close(evOff, ev)
    assert(ccOff === cc)
    assert(lpOff === lp)
  }

  test("graph stats: density in (0,1], clustering in [0,1], bounded sample") {
    val r = run("gr_graph_stats").head()
    assert(r.getAs[Long]("n_nodes") > 0)
    assert(r.getAs[Long]("n_edges") > 0)
    val d = r.getAs[Double]("density")
    assert(d > 0.0 && d <= 1.0, s"density $d")
    val c = r.getAs[Double]("avg_clustering")
    assert(c >= 0.0 && c <= 1.0, s"avg_clustering $c")
    assert(r.getAs[Long]("sample_size") <= GraphOps_ClSampleK)
    assert(r.getAs[Long]("proj_edges") > 0)
  }
  private def GraphOps_ClSampleK = operators.GraphOps.ClSampleK.toLong

  test("community names: top-10 panel agrees with community stats, tiers honest") {
    val stats = run("gr_community_stats").collect()
      .map(r => r.getAs[String]("community") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("total_wdegree"))).toMap
    val rows = run("gr_community_names").collect()
    assert(rows.length === math.min(10, stats.size))
    // sizes descend, every row agrees with the stats panel, names carry
    // the id and the size tier
    val sizes = rows.map(_.getAs[Long]("n_members")).toSeq
    assert(sizes === sizes.sortBy(-_))
    rows.foreach { r =>
      val (m, eng) = stats(r.getAs[String]("community"))
      assert(r.getAs[Long]("n_members") === m)
      assert(r.getAs[Long]("engagement") === eng)
      val tier = r.getAs[String]("tier")
      assert(tier === (if (m >= 25) "large" else if (m >= 15) "medium" else "small"))
      assert(r.getAs[String]("name") ===
        s"Community #${r.getAs[String]("community")} ($tier)")
    }
  }

  test("link prediction: capped-set jaccard invariants and ordering") {
    val rows = run("gr_link_predict").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val js = rows.map(_.getAs[Double]("jaccard")).toSeq
    assert(js === js.sortBy(-_))
    val pairs = rows.map(r => (r.getAs[String]("node_a"), r.getAs[String]("node_b")))
    assert(pairs.distinct.length === pairs.length)
    rows.foreach { r =>
      val common = r.getAs[Long]("common")
      assert(common >= 1L && common <= operators.GraphOps.ProjCap.toLong)
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard $j")
      assert(r.getAs[String]("node_a") !== r.getAs[String]("node_b"))
      // both endpoints are customers: the projection is customer-customer
      assert(r.getAs[String]("node_a").startsWith("c"))
      assert(r.getAs[String]("node_b").startsWith("c"))
    }
  }

  test("triangles: degree-ordered orientation counts each triangle exactly once") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tri").toString
    // customers 10,11,12 share supplier 5 -> projection triangle
    // (10,11,12); supplier 6 adds edge (10,13). Degrees: 10->3, 11->2,
    // 12->2, 13->1. (Customers 1,2 / supplier 1 are the excluded ids.)
    Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 10L), (5L, 13L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 6L), (5L, 6L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val rows = operators.GraphOps.grTriangles.run(spark, tmp)
      .collect().map(r => r.getAs[String]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("triangles"), r.getAs[Double]("clustering"))).toMap
    assert(rows("c10") === ((3L, 1L, math.floor(1.0 / 3.0 * 1e8 + 0.5) / 1e8)))
    assert(rows("c11") === ((2L, 1L, 1.0)))
    assert(rows("c12") === ((2L, 1L, 1.0)))
    assert(rows("c13") === ((1L, 0L, 0.0)))
    // real corpus: triangles bounded by C(d,2), clustering a valid ratio
    val real = run("gr_triangles").collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val d = r.getAs[Long]("degree"); val t = r.getAs[Long]("triangles")
      assert(t <= d * (d - 1) / 2, s"node ${r.getAs[String]("node")}")
      val c = r.getAs[Double]("clustering"); assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("k-core: survivors form a closed k-core with correct within-core degrees") {
    import spark.implicits._
    val core = run("gr_kcore").collect()
    assert(core.nonEmpty, "core must not peel to empty")
    val k = core.head.getAs[Long]("k")
    // every survivor meets the bar — the defining k-core property
    core.foreach(r => assert(r.getAs[Long]("core_degree") >= k,
      s"node ${r.getAs[String]("node")} below k=$k"))
    // non-degenerate: some nodes were peeled
    val allNodes = run("gr_degree").count()
    assert(core.length < allNodes, "peel must remove someone")
    // closure check: recompute within-core degrees from the edge list
    // restricted to survivors — must equal the reported core_degree
    val members = core.map(_.getAs[String]("node")).toSet
    val e = run("gr_edges")
      .filter($"src".isInCollection(members) && $"dst".isInCollection(members))
    val recomputed = e.select($"src".as("node")).union(e.select($"dst".as("node")))
      .groupBy($"node").count().collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("count")).toMap
    core.foreach { r =>
      val n = r.getAs[String]("node")
      assert(recomputed.getOrElse(n, 0L) === r.getAs[Long]("core_degree"), s"node $n")
    }
  }

  test("assortativity: valid coefficient, disassortative bipartite graph, honest counts") {
    val row = run("gr_assortativity").collect().head
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 && r <= 1.0)
    // customers connect only to suppliers (and supplier degree >> customer
    // degree on this corpus), so endpoint degrees anti-correlate
    assert(r < 0.0, s"bipartite hub graph should be disassortative, got $r")
    assert(row.getAs[Long]("n_nodes") === run("gr_degree").count())
    assert(row.getAs[Long]("m_edges") === run("gr_edges").count())
  }

  test("louvain agreement: seeded schedule and down-only rule agree on the planted blocks; corpus report is a valid index") {
    // r16 (r15 verdict item 6): the seeded-visit-order divergence
    // becomes DATA. On a graph with real structure the two
    // deterministic rules must land on the SAME partition (agreement
    // in kind — like the reference's seeded louvain): the planted
    // 2-block graph from the gr_louvain spec.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lv_agree").toString
    Seq((100L, 10L), (101L, 11L), (102L, 12L), (103L, 30L), (104L, 31L),
      (105L, 32L), (106L, 12L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val blockA = Seq(100L, 101L, 102L)
      .flatMap(o => Seq(20L, 20L, 21L, 21L, 22L, 22L).map(sp => (o, sp)))
    val blockB = Seq(103L, 104L, 105L)
      .flatMap(o => Seq(50L, 50L, 51L, 51L, 52L, 52L).map(sp => (o, sp)))
    (blockA ++ blockB :+ ((106L, 50L)))
      .toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val planted = Registry.byName("gr_louvain_agree").run(spark, dir).collect()(0)
    assert(planted.getAs[Long]("n_comm_down") === 2L)
    assert(planted.getAs[Long]("n_comm_seed") === 2L,
      s"the seeded schedule should also resolve the 2 planted blocks, got ${planted.getAs[Long]("n_comm_seed")}")
    assert(planted.getAs[Double]("rand_index") === 1.0,
      s"identical partitions must read RI = 1, got ${planted.getAs[Double]("rand_index")}")
    // corpus report: a valid pair-counting index over all nodes
    val corpus = run("gr_louvain_agree").collect()(0)
    assert(corpus.getAs[Long]("n_nodes") === run("gr_degree").count())
    val ri = corpus.getAs[Double]("rand_index")
    assert(ri >= 0.0 && ri <= 1.0)
    assert(corpus.getAs[Long]("n_comm_down") >= 1L)
    assert(corpus.getAs[Long]("n_comm_seed") >= 1L)
  }

  test("centrality error gate: closeness rows (hop + weighted) match brute-force probe models; weighted rows gated") {
    // r16: gr_centrality_err measures the landmark approximation against
    // EXACT all-sources centralities on the 40-smallest-id probe
    // subgraph. The closeness side is pure integer arithmetic end to
    // end, so this spec recomputes it with an independent plain-Scala
    // BFS (the collect is the induced probe subgraph — bounded by the
    // constant ProbeN², a spec-side action) and must match exactly.
    val rows = run("gr_centrality_err").collect()
      .map(r => r.getAs[String]("metric") -> r).toMap
    assert(rows.keySet ===
      Set("closeness", "betweenness", "closeness_w", "betweenness_w"))
    // independent model: probe slice + induced edges (with weights, for
    // the r18 weighted rows)
    import org.apache.spark.sql.functions.col
    val ew = operators.GraphOps.edgesNum(spark, sfDir)
      .select(col("src"), col("dst"), col("weight")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e = ew.map(t => (t._1, t._2))
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val pn = nodes.take(40)
    val pset = pn.toSet
    val adj = (e.filter(p => pset(p._1) && pset(p._2))
      .flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val R = 6
    def bfsTot(srcs: Seq[Long]): Map[Long, Long] = {
      val tot = scala.collection.mutable.Map(pn.map(_ -> 0L): _*)
      for (s <- srcs) {
        val dist = scala.collection.mutable.Map(s -> 0)
        var frontier = Seq(s)
        for (d <- 1 to R) {
          frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
            .distinct.filterNot(v => dist.contains(v))
          frontier.foreach(v => dist(v) = d)
        }
        pn.foreach(v => tot(v) += math.min(dist.getOrElse(v, R + 1), R + 1).toLong)
      }
      tot.toMap
    }
    val totE = bfsTot(pn)
    // the production landmark rule (r17): top-24 by probe degree
    // (degree DESC, node ASC) — over NON-ISOLATED nodes only, exactly
    // like maxDegreeSeed/lmkSeedSql which aggregate over the edge relation
    // (an isolated probe node never appears there). When fewer than 24
    // probe nodes have edges, production's total still uses the
    // CONSTANT base 24·(R+1) (ceClosTotSql), i.e. every missing
    // landmark contributes an unreached R+1 to every node — the
    // phantom term below mirrors that, so the model matches production
    // at ANY probe sparsity, not just when all 24 seeds exist.
    val deg = pn.map(v => v -> adj.getOrElse(v, Array.empty[Long]).length).toMap
    val lmk = pn.filter(v => deg(v) > 0).sortBy(v => (-deg(v), v)).take(24)
    val phantom = (24 - lmk.length).toLong * (R + 1)
    val totL = bfsTot(lmk).map { case (v, t) => v -> (t + phantom) }
    def ranks(tot: Map[Long, Long]): Map[Long, Int] =
      pn.sortBy(v => (tot(v), v)).zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val re = ranks(totE); val ra = ranks(totL)
    val n = pn.length
    val sd2 = pn.map(v => { val d = re(v) - ra(v); d.toLong * d }).sum
    def prnd(x: Double, dg: Int): Double = { val f = math.pow(10, dg); math.floor(x * f + 0.5) / f }
    val spearman = prnd(1.0 - 6.0 * sd2 / (n.toDouble * (n.toDouble * n - 1.0)), 6)
    val overlap = pn.count(v => re(v) <= 10 && ra(v) <= 10) / 10.0
    val errs = pn.map(v => prnd(math.abs(24.0 / totL(v) - n.toDouble / totE(v)), 9))
    val meanErr = prnd(errs.map(x => math.floor(x * 1e9 + 0.5).toLong).sum / 1e9 / n, 6)
    val maxErr = prnd(errs.max, 6)
    val c = rows("closeness")
    assert(c.getAs[Long]("n_probe") === n.toLong)
    assert(c.getAs[Double]("spearman") === spearman)
    assert(c.getAs[Double]("top10_overlap") === overlap)
    assert(c.getAs[Double]("mean_abs_err") === meanErr)
    assert(c.getAs[Double]("max_abs_err") === maxErr)
    // the r16 verdict's DONE criterion: the production landmark rule
    // (max-degree seed, K=24) must rank closeness at ρ ≥ 0.8 vs exact
    // on the probe subgraph (measured 0.988 here at sf0.001, 0.904 at
    // the sf0.01 correctness gate — the old smallest-id/K=8 rule read
    // 0.46)
    assert(c.getAs[Double]("spearman") >= 0.8,
      s"production landmark rule must rank closeness at rho >= 0.8: $c")
    // betweenness row: bounded-sanity here; the recurrence under it is
    // checked against an independent model per (node, src) in "hop
    // Brandes probe detail matches ..." below
    val b = rows("betweenness")
    assert(b.getAs[Long]("n_probe") === n.toLong)
    val rho = b.getAs[Double]("spearman")
    assert(rho >= -1.0 && rho <= 1.0)
    val ov = b.getAs[Double]("top10_overlap")
    assert(ov >= 0.0 && ov <= 1.0)
    assert(b.getAs[Double]("mean_abs_err") >= 0.0)
    assert(b.getAs[Double]("max_abs_err") >= b.getAs[Double]("mean_abs_err"))
    // r18 weighted rows: closeness_w recomputed with an independent
    // plain-Scala synchronous Bellman-Ford (8 relax rounds, cap 100 —
    // the production ClWRounds/ClWCap rule) and must match exactly;
    // both weighted rows gated at the r17-verdict bar ρ ≥ 0.8
    // (measured: closeness_w 0.987 / betweenness_w 0.969 here at
    // sf0.001; 0.934 / 0.918 at the sf0.01 correctness gate; 1.0 / 1.0
    // at sf0.1 — the production max-degree seed holds for the weighted
    // estimators, no weighted re-tuning needed).
    val wadj = ew.filter(t => pset(t._1) && pset(t._2))
      .flatMap(t => Seq((t._1, (t._2, t._3)), (t._2, (t._1, t._3))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val RW = 8; val Cap = 100L
    def wTot(srcs: Seq[Long]): Map[Long, Long] = {
      val tot = scala.collection.mutable.Map(pn.map(_ -> 0L): _*)
      for (s0 <- srcs) {
        val dist = scala.collection.mutable.Map[Long, Long](s0 -> 0L)
        for (_ <- 1 to RW) {
          val snap = dist.toMap
          for ((v, d0) <- snap; (nb, w) <- wadj.getOrElse(v, Array.empty[(Long, Long)])) {
            val nd = d0 + w
            if (dist.get(nb).forall(_ > nd)) dist(nb) = nd
          }
        }
        pn.foreach(v => tot(v) += math.min(dist.getOrElse(v, Cap), Cap))
      }
      tot.toMap
    }
    val phantomW = (24 - lmk.length).toLong * Cap
    val wTotE = wTot(pn)
    val wTotL = wTot(lmk).map { case (v, t) => v -> (t + phantomW) }
    val wre = ranks(wTotE); val wra = ranks(wTotL)
    val wsd2 = pn.map(v => { val d = wre(v) - wra(v); d.toLong * d }).sum
    val wSpearman = prnd(1.0 - 6.0 * wsd2 / (n.toDouble * (n.toDouble * n - 1.0)), 6)
    val wOverlap = pn.count(v => wre(v) <= 10 && wra(v) <= 10) / 10.0
    val wErrs = pn.map(v => prnd(math.abs(24.0 / wTotL(v) - n.toDouble / wTotE(v)), 9))
    val wMeanErr = prnd(wErrs.map(x => math.floor(x * 1e9 + 0.5).toLong).sum / 1e9 / n, 6)
    val wMaxErr = prnd(wErrs.max, 6)
    val cw = rows("closeness_w")
    assert(cw.getAs[Long]("n_probe") === n.toLong)
    assert(cw.getAs[Double]("spearman") === wSpearman)
    assert(cw.getAs[Double]("top10_overlap") === wOverlap)
    assert(cw.getAs[Double]("mean_abs_err") === wMeanErr)
    assert(cw.getAs[Double]("max_abs_err") === wMaxErr)
    assert(cw.getAs[Double]("spearman") >= 0.8,
      s"production landmark rule must rank weighted closeness at rho >= 0.8: $cw")
    val bw = rows("betweenness_w")
    assert(bw.getAs[Long]("n_probe") === n.toLong)
    assert(bw.getAs[Double]("spearman") >= 0.8,
      s"production landmark rule must rank weighted betweenness at rho >= 0.8: $bw")
    assert(bw.getAs[Double]("top10_overlap") >= 0.0 &&
      bw.getAs[Double]("top10_overlap") <= 1.0)
    assert(bw.getAs[Double]("mean_abs_err") >= 0.0)
    assert(bw.getAs[Double]("max_abs_err") >= bw.getAs[Double]("mean_abs_err"))
    // independent weighted-Brandes model (r18 review: the SQL and Spark
    // sides of the sigma/delta recurrence are twins of ONE formulation,
    // so the oracle compare cannot catch a shared conceptual error).
    // Plain-Scala per-src recompute of the exact bounded recurrence:
    // 5 synchronous weighted relax rounds, DAG edges d(w)=d(v)+weight,
    // 5 sigma forward relaxations (pinned sigma(src)=1), 5 delta
    // backward re-derivations — double arithmetic, so compared to the
    // engine's decimal-quantized nanounits within a tolerance that any
    // wrong recurrence blows through.
    val detail = operators.GraphOps.probeBrandesWDetail(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("src")) -> r.getAs[Long]("di"))
      .toMap
    val RWB = 5
    val modelDi = scala.collection.mutable.Map[(Long, Long), Long]()
    for (src <- pn) {
      val dist = scala.collection.mutable.Map[Long, Long](src -> 0L)
      for (_ <- 1 to RWB) {
        val snap = dist.toMap
        for ((v, d0) <- snap; (nb, w) <- wadj.getOrElse(v, Array.empty[(Long, Long)])) {
          val nd = d0 + w
          if (dist.get(nb).forall(_ > nd)) dist(nb) = nd
        }
      }
      val dag = (for {
        (v, d0) <- dist.toSeq; (nb, w) <- wadj.getOrElse(v, Array.empty[(Long, Long)])
        if dist.get(nb).contains(d0 + w)
      } yield (v, nb))
      var sig = Map[Long, Long](src -> 1L)
      for (_ <- 1 to RWB) {
        val agg = dag.flatMap { case (v, w2) => sig.get(v).map(w2 -> _) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        sig = agg + (src -> 1L)
      }
      val dagR = dag.collect { case (v, w2) if sig.contains(v) && sig.contains(w2) =>
        (v, w2, sig(v).toDouble / sig(w2)) }
      var dlt = Map[Long, Double]().withDefaultValue(0.0)
      def prnd9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
      for (_ <- 1 to RWB) {
        dlt = dagR.groupBy(_._1).view.mapValues(_.map { case (_, w2, rt) =>
          prnd9(rt * (1.0 + dlt(w2))) }.sum).toMap.withDefaultValue(0.0)
      }
      for (v <- pn; if v != src)
        modelDi((v, src)) = math.floor(dlt(v) * 1e9 + 0.5).toLong
    }
    // the engine's delta relation is dense over (node, src), node != src
    assert(detail.keySet === modelDi.keySet)
    modelDi.foreach { case (k, m) =>
      val got = detail(k)
      // 1e-5 in delta units: double-vs-decimal summation slack only — a
      // wrong recurrence lands orders of magnitude outside it
      assert(math.abs(got - m) <= 10000L,
        s"weighted Brandes recurrence diverged at $k: engine $got vs model $m")
    }
  }

  test("hop Brandes probe detail matches an independent BFS + sigma + delta model") {
    // the SQL and Spark sides of the hop σ/δ recurrence are twins of ONE
    // formulation, so the oracle compare cannot catch a shared
    // conceptual error. Plain-Scala per-src recompute of the bounded
    // recurrence on the 40-smallest-id probe subgraph: BFS levels to
    // depth 4 (the production BwRounds) with σ(v) = Σ σ over neighbors
    // one level up, then δ(v) = Σ over successors w of
    // prnd9(σv/σw · (1 + δw)), level by level from the deepest. A node
    // at depth 4 carries δ = 0; a shallower node without successors has
    // no row.
    import org.apache.spark.sql.functions.col
    val e = operators.GraphOps.edgesNum(spark, sfDir)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pn = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted.take(40)
    val pset = pn.toSet
    val adj = e.filter(p => pset(p._1) && pset(p._2))
      .flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
      .withDefaultValue(Seq.empty[Long])
    val R = 4
    def prnd9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val model = scala.collection.mutable.Map[(Long, Long), Long]()
    for (src <- pn) {
      val dist = scala.collection.mutable.Map(src -> 0)
      val sig = scala.collection.mutable.Map(src -> 1L)
      var frontier = Seq(src)
      for (d <- 1 to R) {
        frontier = frontier.flatMap(adj).distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
        frontier.foreach(v =>
          sig(v) = adj(v).filter(u => dist.get(u).contains(d - 1)).map(sig).sum)
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
      dist.foreach { case (v, d) => if (d == R) delta(v) = 0.0 }
      for (r <- (R - 1) to 0 by -1; (v, d) <- dist.toSeq if d == r) {
        val succ = adj(v).filter(w => dist.get(w).contains(r + 1))
        if (succ.nonEmpty)
          delta(v) = succ.map(w =>
            prnd9(sig(v).toDouble / sig(w) * (1.0 + delta.getOrElse(w, 0.0)))).sum
      }
      delta.foreach { case (v, dl) =>
        if (v != src) model((v, src)) = math.floor(dl * 1e9 + 0.5).toLong
      }
    }
    val detail = operators.GraphOps.probeBrandesDetail(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("src")) -> r.getAs[Long]("di"))
      .toMap
    assert(model.nonEmpty)
    assert(detail.keySet === model.keySet)
    model.foreach { case (k, m) =>
      // 1e-5 in delta units: double-vs-decimal summation slack only — a
      // wrong recurrence lands orders of magnitude outside it
      assert(math.abs(detail(k) - m) <= 10000L,
        s"hop Brandes recurrence diverged at $k: engine ${detail(k)} vs model $m")
    }
  }

  test("graph gates return identical rows with AQE off and on") {
    // each run starts from an empty MatStore, so every shared artifact
    // (LPA, Louvain labels, probe details) is rebuilt under the setting
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val names = Seq("gr_louvain_agree", "gr_community_quality", "gr_centrality_err")
    def rowsUnder(aqe: Boolean): Map[String, Seq[Seq[Any]]] = {
      spark.conf.set(key, aqe.toString)
      MatStore.clear(spark)
      names.map(n => n -> run(n).collect().toSeq.map(_.toSeq)).toMap
    }
    try {
      val off = rowsUnder(aqe = false)
      val on = rowsUnder(aqe = true)
      names.foreach { n =>
        assert(off(n).nonEmpty, s"$n returned no rows")
        assert(off(n) === on(n), s"$n differs between AQE off and on")
      }
    } finally spark.conf.set(key, prev)
  }

  test("random walks: every step follows a real edge and the corpus is reproducible") {
    val edges = run("gr_edges").collect()
      .flatMap { r =>
        val a = r.getAs[String]("src"); val b = r.getAs[String]("dst")
        Seq((a, b), (b, a))
      }.toSet
    val walks = run("gr_random_walks").collect()
    // one walk per node, full length (no dead ends in an edge-derived graph)
    assert(walks.length === run("gr_degree").count())
    walks.foreach { w =>
      val p = w.getAs[String]("path").split(">")
      assert(p.length === 5, s"walk ${w.getAs[String]("walk_id")} length")
      assert(p.head === w.getAs[String]("walk_id"))
      p.sliding(2).foreach { case Array(a, b) =>
        assert(edges.contains((a, b)), s"$a>$b is not an edge")
      }
      // customer↔supplier edges only: node types must strictly alternate
      p.sliding(2).foreach { case Array(a, b) => assert(a.head != b.head) }
      assert(w.getAs[Long]("n_unique") ===
        p.distinct.length.toLong)
    }
    // determinism: a second evaluation yields the identical corpus
    val again = run("gr_random_walks").collect()
    assert(walks.map(_.getAs[String]("path")).sorted.sameElements(
      again.map(_.getAs[String]("path")).sorted))
  }
}
