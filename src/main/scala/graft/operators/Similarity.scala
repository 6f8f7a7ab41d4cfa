package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{Portable => P, PortableSql => PS}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (SURVEY §2g): exact brute-force
  * top-k as the baseline, SRP-LSH bucketed ANN as the scale path, and
  * IVF-style per-label cell statistics.
  *
  * Scale notes: brute-force broadcasts the (small) query set and streams
  * the corpus — one scan, no shuffle of the big side, native codegen'd
  * cosine in the inner loop. The LSH variant prunes candidates to matching
  * buckets before scoring. Pair stats aggregate exploded vectors keyed by
  * (label, dim) — partial aggregation keeps the shuffle at cell
  * cardinality, the IVF design point.
  */
object Similarity {

  val NumQueries = 10
  val TopK = 5
  /** SRP signature width / band count for the ANN path: 16 planes in 4
    * bands of 4, the same banding dd_embedding uses — candidates share
    * ANY band. A single 4-plane band was measured at ~7% recall@3 on the
    * synthetic corpus (sim_recall); 4-band OR-amplification is the
    * standard fix.
    */
  val LshPlanes = 16
  val LshBandSize = 4
  val LshTopK = 3

  /** Exact cosine top-k per query vector (query set: vec_id < 10). */
  val bruteforce = QueryDef(
    "sim_bruteforce_topk",
    s"""WITH q AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |    WHERE vec_id < $NumQueries),
       |sc AS MATERIALIZED (SELECT q_id, vec_id,
       |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
       |  FROM q, embeddings WHERE vec_id <> q_id),
       |rk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM sc WHERE NOT isnan(cos))
       |SELECT q_id, vec_id, cosine, rank FROM rk WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    // bounded top-k hash aggregate instead of a row_number window: the
    // corpus×queries score stream folds to ≤ k rows per query in the
    // map-side partials, so the exchange ships |Q|·k structs — the r11
    // window exchanged and sorted every (q, candidate) pair (N·|Q| rows)
    // for TopK survivors. Struct order (-cos, vec_id) is the window's
    // (cos DESC, vec_id ASC) total order, so ranks are identical.
    emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        P.prnd(expr("graft_cosine(qe, embedding)"), 6).as("cosine"))
      // NaN cosines (a zero vector on either side — the defect
      // sim_norm_audit exists to catch) are EXCLUDED from ranking on
      // both engines: ORDER BY cos DESC ranks NaN first while the
      // min-k struct(-cos) aggregate ranks it last, so an unfiltered
      // NaN would silently break oracle parity (r12 ADVICE)
      .filter(!isnan($"cosine"))
      .groupBy($"q_id")
      .agg(call_function("graft_topk",
        struct((-$"cosine").as("nc"), $"vec_id", $"cosine"), lit(TopK)).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.vec_id".as("vec_id"), $"col.cosine".as("cosine"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** SRP-LSH bucketed ANN top-k: candidates share any of the 4 bands. */
  val lshTopk = QueryDef(
    "sim_lsh_topk",
    s"""WITH ${Srp.bandKeysSql(LshPlanes, LshBandSize)},
       |q AS MATERIALIZED (SELECT vec_id AS q_id, band, bkey FROM srp_bk WHERE vec_id < $NumQueries),
       |cand AS (SELECT DISTINCT q.q_id, b.vec_id FROM q
       |  JOIN srp_bk b ON b.band = q.band AND b.bkey = q.bkey
       |  WHERE b.vec_id <> q.q_id),
       |sc AS MATERIALIZED (SELECT c.q_id, c.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])) AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
       |rk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT q_id, vec_id, cosine, rank FROM rk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // shared SRP signature table (MatStore): materialized once, reused by
    // sim_recall and dd_embedding in the same session
    val bk = Srp.bandKeysM(s, dir, LshPlanes, LshBandSize)
    val q = bk.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"band", $"bkey")
    val cand = q.join(bk, Seq("band", "bkey")).filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id").distinct()
    val w = Window.partitionBy($"q_id").orderBy(P.prnd($"cos", 6).desc, $"vec_id")
    cand
      .join(emb.select($"vec_id".as("q_id"), $"embedding".as("qe")), "q_id")
      .join(emb.select($"vec_id", $"embedding".as("ce")), "vec_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, ce)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Half-width of the unit-norm acceptance band of [[normAudit]]. */
  private val UnitBand = 0.01

  /** Per-label embedding-norm health audit — the "is my encoder broken"
    * panel that runs BEFORE any similarity math is trusted: vector
    * count, zero vectors (cosine is undefined — they poison every
    * downstream cosine), vectors inside the ±[[UnitBand]] unit-norm
    * band (normalized-encoder check: if embeddings are supposed to be
    * unit-norm, anything outside the band is a preprocessing bug), and
    * min/mean/max norm per label. [[pairStats]] audits angles between
    * vectors; this audits the vectors themselves.
    *
    * Portability: norm² is ONE codegen'd `graft_sdot(e, e, 6)` per row
    * (per-term scaled-long rounding — bit-identical to the oracle's
    * exploded dsum), sqrt is IEEE-correctly-rounded on both engines
    * (unlike log/exp, which this repo never evaluates at runtime), and
    * the mean routes through the scaled-long exact-sum path. One narrow
    * map + one per-label aggregate — scan-bound at any corpus size.
    */
  val normAudit = QueryDef(
    "sim_norm_audit",
    s"""WITH expl AS MATERIALIZED (SELECT vec_id, label,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |n2 AS MATERIALIZED (SELECT vec_id, label,
       |    ${PS.dsum("x * x", 6)} AS n2 FROM expl GROUP BY vec_id, label),
       |nm AS MATERIALIZED (SELECT label, n2, ${PS.prnd("sqrt(n2)", 6)} AS norm FROM n2)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  CAST(SUM(CASE WHEN abs(norm - 1.0) <= $UnitBand THEN 1 ELSE 0 END) AS BIGINT) AS n_unit,
       |  MIN(norm) AS min_norm, MAX(norm) AS max_norm,
       |  ${PS.prnd(PS.davg("norm", 9), 6)} AS mean_norm
       |FROM nm GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", expr("graft_sdot(embedding, embedding, 6)").as("n2"))
      .withColumn("norm", P.prnd(sqrt($"n2"), 6))
      .groupBy($"label")
      .agg(P.cnt.as("n_vectors"),
        sum(when($"n2" === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(abs($"norm" - 1.0) <= UnitBand, 1L).otherwise(0L)).as("n_unit"),
        min($"norm").as("min_norm"), max($"norm").as("max_norm"),
        P.prnd(P.davg($"norm", 9), 6).as("mean_norm"))
      .orderBy($"label")
  }

  /** IVF-style cell stats: per-label centroid norm + mean cosine of the
    * label's vectors to their centroid. Exact decimal sums keep every
    * aggregate deterministic across engines.
    */
  val pairStats = QueryDef(
    "sim_pair_stats",
    s"""WITH expl AS MATERIALIZED (SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
      |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |cn AS MATERIALIZED (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
      |cent AS MATERIALIZED (SELECT label, j,
      |    ${PS.davg("x", 9)} AS c
      |  FROM expl GROUP BY label, j),
      |parts AS MATERIALIZED (SELECT e.vec_id, e.label,
      |    ${PS.dsum("e.x * c.c", 12)} AS dot,
      |    ${PS.dsum("e.x * e.x", 12)} AS nx
      |  FROM expl e JOIN cent c ON c.label = e.label AND c.j = e.j
      |  GROUP BY e.vec_id, e.label),
      |cnorm AS MATERIALIZED (SELECT label, ${PS.dsum("c * c", 12)} AS ny
      |  FROM cent GROUP BY label),
      |cosv AS MATERIALIZED (SELECT p.label, p.vec_id, p.dot / sqrt(p.nx * cn2.ny) AS cos
      |  FROM parts p JOIN cnorm cn2 USING (label))
      |SELECT v.label, cn.n AS n_vectors,
      |  ${PS.prnd("sqrt(cn2.ny)", 6)} AS centroid_norm,
      |  ${PS.prnd(PS.davg("v.cos", 9), 6)} AS mean_cos
      |FROM cosv v JOIN cn USING (label) JOIN cnorm cn2 USING (label)
      |GROUP BY v.label, cn.n, cn2.ny
      |ORDER BY label""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val expl = coords(s, dir)
    val cn = emb.groupBy($"label").agg(P.cnt.as("n"))
    val cent = centM(s, dir)
    val parts = expl.join(cent, Seq("label", "j"))
      .groupBy($"vec_id", $"label")
      .agg(P.dsum($"x" * $"c", 12).as("dot"),
        P.dsum($"x" * $"x", 12).as("nx"))
    val cnorm = cent.groupBy($"label")
      .agg(P.dsum($"c" * $"c", 12).as("ny"))
    val cosv = parts.join(cnorm, "label")
      .select($"label", $"vec_id", ($"dot" / sqrt($"nx" * $"ny")).as("cos"))
    cosv.groupBy($"label")
      .agg(P.davg($"cos", 9).as("mean_raw"))
      .join(cn, "label").join(cnorm, "label")
      .select($"label", $"n".as("n_vectors"),
        P.prnd(sqrt($"ny"), 6).as("centroid_norm"),
        P.prnd($"mean_raw", 6).as("mean_cos"))
      .orderBy($"label")
  }

  /** Session-shared corpus vectors (vec_id, label, embedding), one row
    * per vector — what every coordinate reader explodes ([[coords]]).
    * Vector grain, not coordinate grain: a checkpoint of the exploded
    * stream would hold 64 rows per vector for the session, and
    * re-exploding these rows costs a reader no more than reading such a
    * stream, while re-reading the parquet scan pays a nested-array
    * decode per read (both measured at sf0.1).
    */
  private def vecsM(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.MatStore.of(s, s"sim_expl:$dir")(
      Tables.embeddings(s, dir).select($"vec_id", $"label", $"embedding"))
  }

  /** Exploded embedding coordinates (vec_id, label, j, x) of the corpus
    * — the (vector, dim)-grain rows the centroid/norm math runs on. A
    * plan over [[vecsM]], not a memo: each read is one narrow generator,
    * a reader's vec_id filter applies before the explode, and what stays
    * in [[graft.MatStore]] is what the readers aggregate to (the label
    * centroids [[centM]], the k-means model [[kmCents]]).
    */
  private def coords(s: SparkSession, dir: String): DataFrame =
    explOf(vecsM(s, dir))

  /** Session-shared per-label centroids over [[coords]] — the IVF index
    * posture: built once, served by every probe query and sample.
    */
  private def centM(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.MatStore.of(s, s"sim_cent:$dir")(
      coords(s, dir).groupBy($"label", $"j")
        .agg((P.davg($"x", 9)).as("c")))
  }

  /** Cells probed per query on the IVF path: 2 of the ~10 label cells,
    * so the exact scoring scan touches ~20% of the corpus instead of all
    * of it — the coarse-quantizer pruning that defines IVF.
    */
  val IvfProbes = 2

  /** IVF-probe ANN top-k: the per-label centroids act as the coarse
    * quantizer (at 100 TB the labels stand in for k-means cell ids and
    * the corpus is partitioned by cell, so non-probed cells are never
    * scanned). Per query: rank cells by portable centroid cosine, probe
    * the [[IvfProbes]] nearest, then exact codegen'd cosine + top-k over
    * the probed cells' members only. Centroid arithmetic rides the same
    * exact decimal sums as [[pairStats]], the final ranking the same
    * prnd-cosine/vec_id ordering as [[bruteforce]] — every step
    * deterministic and engine-portable.
    */
  val ivfTopk = QueryDef(
    "sim_ivf_topk",
    s"""WITH expl AS MATERIALIZED (SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |cent AS MATERIALIZED (SELECT label, j,
       |    ${PS.davg("x", 9)} AS c
       |  FROM expl GROUP BY label, j),
       |cnorm AS MATERIALIZED (SELECT label, ${PS.dsum("c * c", 12)} AS ny
       |  FROM cent GROUP BY label),
       |qv AS MATERIALIZED (SELECT vec_id AS q_id, j, x FROM expl WHERE vec_id < $NumQueries),
       |qn AS MATERIALIZED (SELECT q_id, ${PS.dsum("x * x", 12)} AS nq
       |  FROM qv GROUP BY q_id),
       |qc AS MATERIALIZED (SELECT q.q_id, c.label,
       |    ${PS.dsum("q.x * c.c", 12)} AS dot
       |  FROM qv q JOIN cent c ON c.j = q.j GROUP BY q.q_id, c.label),
       |cells AS MATERIALIZED (SELECT q_id, label FROM (
       |    SELECT qc.q_id, qc.label,
       |      row_number() OVER (PARTITION BY qc.q_id
       |        ORDER BY ${PS.prnd("qc.dot / sqrt(qn.nq * cn2.ny)", 6)} DESC, qc.label) AS rn
       |    FROM qc JOIN qn USING (q_id) JOIN cnorm cn2 ON cn2.label = qc.label) t
       |  WHERE rn <= $IvfProbes),
       |cand AS MATERIALIZED (SELECT cl.q_id, e.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
       |  FROM cells cl
       |  JOIN embeddings e ON e.label = cl.label AND e.vec_id <> cl.q_id
       |  JOIN embeddings qe ON qe.vec_id = cl.q_id),
       |rk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM cand)
       |SELECT q_id, vec_id, cosine, rank FROM rk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // grouped-explode centroid build (the oracle CTE's shape), via the
    // coords stream and the session-shared centM memo. A 64x element_at
    // + per-position decimal-sum pivot (no explode) was re-measured WORSE here
    // (1.5-1.9s vs ~1.0s at sf0.1): the wide inline decimal casts defeat
    // the hash-agg's codegen win, while the exploded rows stay narrow
    // and the aggregate is map-side partial.
    val expl = coords(s, dir)
    val cent = centM(s, dir)
    val cnorm = cent.groupBy($"label")
      .agg(P.dsum($"c" * $"c", 12).as("ny"))
    val qv = expl.filter($"vec_id" < NumQueries).select($"vec_id".as("q_id"), $"j", $"x")
    val qn = qv.groupBy($"q_id")
      .agg(P.dsum($"x" * $"x", 12).as("nq"))
    val qc = qv.join(cent, "j")
      .groupBy($"q_id", $"label")
      .agg(P.dsum($"x" * $"c", 12).as("dot"))
    // same aggregate top-k as the trained-quantizer path: no window sort
    val cells = qc.join(qn, "q_id").join(cnorm, "label")
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_list(struct(
        (-P.prnd($"dot" / sqrt($"nq" * $"ny"), 6)).as("nc"),
        $"label".as("l")))), 1, IvfProbes).as("top"))
      .select($"q_id", explode($"top.l").as("label"))
    // probed cells only: the corpus streams through ONE broadcast join on
    // (label) — non-probed cells fall out before any cosine is computed
    val w = Window.partitionBy($"q_id").orderBy(P.prnd($"cos", 6).desc, $"vec_id")
    emb.join(broadcast(cells), "label")
      .filter($"vec_id" =!= $"q_id")
      .join(broadcast(Tables.embeddings(s, dir)
        .filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))), "q_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, embedding)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Recall@k of the SRP-LSH ANN path against the exact brute-force
    * baseline — the standard evaluation a pipeline runs before trusting
    * an ANN index for near-dup mining. Per query: |lsh top-k ∩ exact
    * top-k| / k, with the same deterministic prnd-cosine/vec_id ranking
    * both ANN queries already use. Scale shape: both rankings are
    * windowed top-k over candidate sets (the exact side broadcasts the
    * bounded query set; the LSH side scores bucket-mates only), and the
    * intersection join carries ≤ queries×k rows.
    */
  val recall = QueryDef(
    "sim_recall",
    s"""WITH bq AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |    WHERE vec_id < $NumQueries),
       |bsc AS MATERIALIZED (SELECT q_id, vec_id,
       |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
       |  FROM bq, embeddings WHERE vec_id <> q_id),
       |brk AS MATERIALIZED (SELECT q_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM bsc WHERE NOT isnan(cos)),
       |${Srp.bandKeysSql(LshPlanes, LshBandSize)},
       |lq AS MATERIALIZED (SELECT vec_id AS q_id, band, bkey FROM srp_bk WHERE vec_id < $NumQueries),
       |lcand AS (SELECT DISTINCT lq.q_id, b.vec_id FROM lq
       |  JOIN srp_bk b ON b.band = lq.band AND b.bkey = lq.bkey
       |  WHERE b.vec_id <> lq.q_id),
       |lsc AS MATERIALIZED (SELECT c.q_id, c.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])) AS cos
       |  FROM lcand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
       |lrk AS MATERIALIZED (SELECT q_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM lsc),
       |hits AS MATERIALIZED (SELECT b.q_id, COUNT(*) AS n_hits
       |  FROM brk b JOIN lrk l ON l.q_id = b.q_id AND l.vec_id = b.vec_id
       |  WHERE b.rank <= $LshTopK AND l.rank <= $LshTopK
       |  GROUP BY b.q_id)
       |SELECT q.q_id AS q_id, CAST($LshTopK AS BIGINT) AS k,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  ${PS.prnd(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $LshTopK", 6)} AS recall
       |FROM bq q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val w = Window.partitionBy($"q_id").orderBy(P.prnd($"cos", 6).desc, $"vec_id")
    // SAME baseline the k-means recall gate uses — both recall gates must
    // compare against one brute-force definition
    val brk = bruteTopkPairs(s, dir)
    val bk = Srp.bandKeysM(s, dir, LshPlanes, LshBandSize)
    val cand = bk.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"band", $"bkey")
      .join(bk, Seq("band", "bkey")).filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id").distinct()
    val lrk = cand
      .join(emb.select($"vec_id".as("q_id"), $"embedding".as("qe2")), "q_id")
      .join(emb.select($"vec_id", $"embedding".as("ce")), "vec_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe2, ce)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= LshTopK).select($"q_id", $"vec_id")
    val hits = brk.join(lrk, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(P.cnt.as("n_hits"))
    emb.filter($"vec_id" < NumQueries).select($"vec_id".as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", lit(LshTopK.toLong).as("k"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        P.prnd(coalesce($"n_hits", lit(0L)).cast("double") / LshTopK, 6).as("recall"))
      .orderBy($"q_id")
  }

  // ------------------------------------------------------ k-means IVF

  /** Cells and Lloyd rounds for the TRAINED IVF quantizer ([[kmTrain]]).
    * Small fixed constants: correctness and engine-parity are the point
    * of the oracled queries; at 100 TB, K grows to ~√N and training runs
    * on a sample — the per-round dataflow below (assignment = N×K
    * broadcast-cosine ranking, update = keyed decimal mean) is already
    * the scaled shape.
    */
  val KmCells = 8
  val KmIters = 2

  /** k-means CTE chain shared by [[kmTrain]] and [[ivfKmeansTopk]]:
    * kc0 = first-[[KmCells]] seed vectors (deterministic init), then per
    * round a spherical assignment (argmax portable-rounded cosine, cell
    * tiebreak) and an exact-decimal mean update; kaf is the final
    * assignment with its cosine kept.
    */
  private[operators] val kmSql: String = {
    def assignSql(name: String, src: String, cols: String, rnPred: String): String =
      s"""$name AS MATERIALIZED (SELECT $cols FROM (
         |    SELECT e.vec_id, ct.cell,
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c) AS cos,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${PS.prnd("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c)", 6)} DESC, ct.cell) AS rn
         |    FROM embeddings e CROSS JOIN $src ct) t
         |  WHERE $rnPred)""".stripMargin
    val steps = (1 to KmIters).map { i =>
      s"""${assignSql(s"ka$i", s"kc${i - 1}", "vec_id, cell", "rn = 1")},
         |km$i AS MATERIALIZED (SELECT a.cell, x.j,
         |    ${PS.davg("x.x", 9)} AS c
         |  FROM ka$i a JOIN kexpl x USING (vec_id) GROUP BY a.cell, x.j),
         |kc$i AS MATERIALIZED (SELECT cell, list(c ORDER BY j) AS c FROM km$i GROUP BY cell)""".stripMargin
    }
    (Seq(
      s"""kexpl AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)""".stripMargin,
      s"""kc0 AS MATERIALIZED (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
         |  FROM embeddings WHERE vec_id < $KmCells)""".stripMargin)
      ++ steps
      :+ assignSql("kaf", s"kc$KmIters", "vec_id, cell, cos", "rn = 1")
      ).mkString(",\n")
  }

  /** Final trained centroids, session-shared across the two km queries
    * and across bench samples ([[graft.MatStore]] — the persisted-index
    * posture of a real IVF deployment: train once, serve many).
    */
  private[graft] def kmCents(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"sim_km_cents:$dir")(kmeansFit(s, dir))

  /** Final assignment (vec_id, cell, cos) over [[kmCents]]. */
  private[graft] def kmAssign(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"sim_km_af:$dir")(
      kmAssignOver(s, dir, kmCents(s, dir)))

  /** One spherical assignment round: every vector assigned the argmax
    * of portable-rounded cosine against the K broadcast centroids
    * (cell id tiebreak). The argmax is a HASH AGGREGATE —
    * `min(struct(-cos, cell, …))` picks the same row as a row_number
    * window over (cos DESC, cell) — so the K candidate rows per vector
    * collapse map-side before the exchange and nothing is sorted; the
    * oracle keeps the equivalent window formulation.
    */
  private def kmAssignOver(s: SparkSession, dir: String,
      cents: DataFrame): DataFrame =
    kmAssignRowsOf(Tables.embeddings(s, dir), cents)

  /** The same spherical argmax assignment over an ARBITRARY embeddings
    * relation — the piece the append path and the composed day gates
    * reuse to assign an arriving batch to FROZEN (served) centroids.
    */
  private[graft] def kmAssignRowsOf(emb: DataFrame,
      cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cell", expr("graft_cosine(embedding, c)").as("cos"))
      .groupBy($"vec_id")
      .agg(min(struct((-P.prnd($"cos", 6)).as("nc"), $"cell".as("l"), $"cos".as("cs"))).as("m"))
      .select($"vec_id", $"m.l".as("cell"), $"m.cs".as("cos"))
  }

  /** [[KmIters]] Lloyd rounds from the deterministic seed over an
    * arbitrary (embeddings, exploded-coordinates) pair; returns the
    * final (cell, c: array<double>) centroid relation. Each update is an
    * exact-decimal per-(cell, dim) mean — identical doubles on both
    * engines — reassembled into an ordered coordinate array. ONE core
    * (r18 review): [[kmeansFit]] feeds it the session-shared corpus
    * relations, [[kmeansFitOver]] an arbitrary relation (`ops_day`'s
    * refit from the day's files) — a scale or tiebreak change cannot
    * fork the two fit paths.
    */
  private def kmeansFitCore(emb: DataFrame, expl0: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val expl = expl0.select($"vec_id", $"j", $"x")
    def assign(cents: DataFrame): DataFrame =
      emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"cell", expr("graft_cosine(embedding, c)").as("cos"))
        .groupBy($"vec_id")
        .agg(min(struct((-P.prnd($"cos", 6)).as("nc"), $"cell".as("l"))).as("m"))
        .select($"vec_id", $"m.l".as("cell"))
    // the per-vector assignment `a` scales LINEARLY with the corpus —
    // broadcasting it (the r9 defect class, reintroduced in r10 and
    // flagged by the r10 verdict) is a driver OOM at fit time on a
    // billion-vector corpus. Both sides are keyed by vec_id, so this is
    // a plain shuffled hash join; AQE may still downgrade it to a
    // runtime broadcast at bench SFs, which is the size-driven behavior
    // we want (ScalePlanSpec asserts the knob-off static plan commits
    // only to the K-row centroid broadcasts).
    def update(a: DataFrame): DataFrame =
      expl.join(a.hint("shuffle_hash"), "vec_id")
        .groupBy($"cell", $"j")
        .agg((P.davg($"x", 9)).as("c"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"j", $"c"))),
          e => e.getField("c")).as("c"))
    var cents = emb.filter($"vec_id" < KmCells)
      .select($"vec_id".as("cell"), $"embedding".cast("array<double>").as("c"))
    for (_ <- 1 to KmIters) cents = update(assign(cents))
    cents
  }

  /** [[kmeansFitCore]] over the session-shared corpus relations. */
  private[graft] def kmeansFit(s: SparkSession, dir: String): DataFrame =
    kmeansFitCore(Tables.embeddings(s, dir), coords(s, dir))

  /** [[kmeansFitCore]] over an ARBITRARY embeddings relation (vec_id,
    * label, embedding) — `ops_day`'s retrain action refits from the
    * day's corpus FILES; the composed oracle pins its output against
    * [[kmSql]]'s kc chain.
    */
  private[graft] def kmeansFitOver(emb0: DataFrame): DataFrame = {
    val s = emb0.sparkSession
    import s.implicits._
    val emb = emb0.select($"vec_id", $"label", $"embedding")
    kmeansFitCore(emb, explOf(emb))
  }

  /** kqc/kcand/krk CTE text — the trained-quantizer probe pipeline
    * (rank cells per query, probe [[IvfProbes]], exact cosine + rank over
    * probed members), shared verbatim by [[ivfKmeansTopk]] and
    * [[kmRecall]] so both queries measure the SAME ANN path.
    */
  /** Probed trained cells per query (kqc) — shared by the km probe tail
    * and the IVF-PQ composition.
    */
  private val kqcSql: String =
    s"""kqc AS MATERIALIZED (SELECT q_id, cell FROM (
       |    SELECT q.vec_id AS q_id, ct.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${PS.prnd("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.c)", 6)} DESC, ct.cell) AS rn
       |    FROM embeddings q CROSS JOIN kc$KmIters ct
       |    WHERE q.vec_id < $NumQueries
       |      AND NOT isnan(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.c))) t
       |  WHERE rn <= $IvfProbes)""".stripMargin

  private val kmProbeSql: String =
    s"""$kqcSql,
       |kcand AS MATERIALIZED (SELECT qc.q_id, a.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
       |  FROM kqc qc
       |  JOIN kaf a ON a.cell = qc.cell AND a.vec_id <> qc.q_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings qe ON qe.vec_id = qc.q_id),
       |krk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM kcand WHERE NOT isnan(cos))""".stripMargin

  /** Spark twin of [[kmProbeSql]]: (q_id, vec_id, cos, rank) over the
    * probed cells of the session-shared trained model.
    */
  /** Spark twin of [[kqcSql]]: top-[[IvfProbes]] trained cells per query
    * as a hash aggregate — collect the K candidate structs, sort the
    * K-element array, slice — map-side partials, no window shuffle-sort
    * (same total order as the oracle's row_number over (cos DESC, cell)).
    */
  private def kmQueryCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" < NumQueries)
      .crossJoin(broadcast(kmCents(s, dir)))
      .select($"vec_id".as("q_id"), $"cell", expr("graft_cosine(embedding, c)").as("cos"))
      .filter(!isnan($"cos")) // NaN cell ranks excluded, both engines
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_list(struct((-P.prnd($"cos", 6)).as("nc"),
        $"cell".as("l")))), 1, IvfProbes).as("top"))
      .select($"q_id", explode($"top.l").as("cell"))
  }

  /** MatStore-shared [[kmProbeRanked]]: three consumers measure the SAME
    * ANN serving path (sim_ivf_kmeans_topk, sim_kmeans_recall's probe
    * side, sim_mmr_topk's candidate pool), so the probed ranked list is
    * materialized once per session like the dedup family's signature
    * tables — a real serving stack scores the probe list once and fans
    * it out to the page, the recall monitor, and the re-ranker.
    */
  private def kmProbeRankedM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"sim_km_probe:$dir")(kmProbeRanked(s, dir))

  private def kmProbeRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val qcells = kmQueryCells(s, dir)
    // probed cells only: members stream through one broadcast join. The
    // deepest consumer (sim_mmr_topk's candidate pool) reads rank ≤
    // MmrPool, so the ranked list is a bounded top-MmrPool aggregate —
    // probed-member scores fold map-side, never a window shuffle-sort.
    kmAssign(s, dir).select($"vec_id", $"cell")
      .join(broadcast(qcells), "cell")
      .filter($"vec_id" =!= $"q_id")
      .join(emb.select($"vec_id", $"embedding"), "vec_id")
      .join(broadcast(emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))), "q_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, embedding)").as("cos"))
      .filter(!isnan($"cos")) // NaN excluded from ranking, both engines
      .groupBy($"q_id")
      .agg(call_function("graft_topk",
        struct((-P.prnd($"cos", 6)).as("nc"), $"vec_id", $"cos"),
        lit(MmrPool)).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.vec_id".as("vec_id"), $"col.cos".as("cos"),
        ($"pos" + 1).cast("long").as("rank"))
  }

  /** Exact brute-force (q_id, vec_id) pairs at rank ≤ [[LshTopK]] — the
    * baseline side every recall gate compares against. MatStore-shared
    * per (dir, label-filter): three recall queries (sim_recall,
    * sim_kmeans_recall, sim_pq_recall) compare against the IDENTICAL
    * unfiltered baseline, which r11 rebuilt — full corpus×queries
    * cosine sweep included — once per query.
    */
  private def bruteTopkPairs(s: SparkSession, dir: String,
      onlyLabels: Option[Seq[Int]] = None): DataFrame =
    graft.MatStore.of(s,
      s"sim_brute:${onlyLabels.fold("all")(_.mkString(","))}:$dir")(
      bruteTopkBuild(s, dir, onlyLabels))

  private def bruteTopkBuild(s: SparkSession, dir: String,
      onlyLabels: Option[Seq[Int]]): DataFrame = {
    import s.implicits._
    val emb0 = Tables.embeddings(s, dir)
    val emb = onlyLabels.fold(emb0)(ls => emb0.filter($"label".isin(ls: _*)))
    val q = emb0.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    // bounded top-k aggregate, not a window: the full-corpus score stream
    // never leaves the map side — ≤ LshTopK structs per query reach the
    // exchange (the r11 shape shuffled+sorted all N·|Q| scored pairs).
    emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        P.prnd(expr("graft_cosine(qe, embedding)"), 6).as("cosine"))
      .filter(!isnan($"cosine")) // NaN excluded from ranking, both engines
      .groupBy($"q_id")
      .agg(call_function("graft_topk",
        struct((-$"cosine").as("nc"), $"vec_id"), lit(LshTopK)).as("top"))
      .select($"q_id", explode($"top.vec_id").as("vec_id"))
  }

  /** Trained-quantizer summary: per final cell, member count and mean
    * member→centroid cosine (cohesion) — the training-eval panel a
    * pipeline checks before serving an IVF index. The reference's IVF
    * story used stored labels as cells; this is the learned replacement
    * (SURVEY §2g).
    */
  val kmTrain = QueryDef(
    "sim_kmeans_train",
    s"""WITH $kmSql
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  ${PS.prnd(PS.davg(PS.prnd("cos", 6), 12), 6)} AS cohesion
       |FROM kaf GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
    import s.implicits._
    kmAssign(s, dir)
      .groupBy($"cell")
      .agg(P.cnt.as("n_members"),
        P.prnd(P.davg(P.prnd($"cos", 6), 12), 6).as("cohesion"))
      .orderBy($"cell")
  }

  /** ANN top-k over the TRAINED quantizer: rank cells by query→centroid
    * cosine, probe the [[IvfProbes]] best, exact cosine over probed
    * members only — [[ivfTopk]]'s partition-pruning story with learned
    * cells instead of stored labels.
    */
  val ivfKmeansTopk = QueryDef(
    "sim_ivf_kmeans_topk",
    s"""WITH $kmSql,
       |$kmProbeSql
       |SELECT q_id, vec_id, cosine, rank FROM krk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    kmProbeRankedM(s, dir)
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** The metadata predicate of the filtered-search query — a declared
    * label allowlist (~20% selectivity on this corpus).
    */
  private val FilterLabels = Seq(2, 7)

  /** Deterministic sample size of the pairwise-cosine histogram. */
  private val PairHistN = 64L

  /** Base/batch split of the embedding-drift monitor (ids ≥ 450 = the
    * arriving batch — the dd_incremental / tx_term_drift convention).
    */
  private[operators] val VecDriftSplit = 450L

  /** Oracle CTE chain ending in cdr(label, n_base, n_batch,
    * centroid_cos) — the drift computation shared by
    * `sim_centroid_drift` and `ops_retrain_gate` (r18), so the monitor
    * and the decision gate can never disagree on what "drift" is.
    */
  private[operators] val centroidDriftSql: String =
    s"""cdexpl AS MATERIALIZED (SELECT vec_id, label,
       |    generate_subscripts(embedding, 1) AS j,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |cdca AS MATERIALIZED (SELECT label, j, ${PS.davg("x", 9)} AS c
       |  FROM cdexpl WHERE vec_id < $VecDriftSplit GROUP BY label, j),
       |cdcb AS MATERIALIZED (SELECT label, j, ${PS.davg("x", 9)} AS c
       |  FROM cdexpl WHERE vec_id >= $VecDriftSplit GROUP BY label, j),
       |cdd AS MATERIALIZED (SELECT a.label,
       |    ${PS.dsum("a.c * b.c", 12)} AS dot,
       |    ${PS.dsum("a.c * a.c", 12)} AS na,
       |    ${PS.dsum("b.c * b.c", 12)} AS nb
       |  FROM cdca a JOIN cdcb b ON a.label = b.label AND a.j = b.j
       |  GROUP BY a.label),
       |cdn1 AS MATERIALIZED (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_base
       |  FROM embeddings WHERE vec_id < $VecDriftSplit GROUP BY label),
       |cdn2 AS MATERIALIZED (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_batch
       |  FROM embeddings WHERE vec_id >= $VecDriftSplit GROUP BY label),
       |cdr AS MATERIALIZED (SELECT label,
       |  COALESCE(n_base, CAST(0 AS BIGINT)) AS n_base,
       |  COALESCE(n_batch, CAST(0 AS BIGINT)) AS n_batch,
       |  ${PS.prnd("dot / sqrt(na * nb)", 6)} AS centroid_cos
       |FROM cdn1 FULL OUTER JOIN cdn2 USING (label)
       |LEFT JOIN cdd USING (label))""".stripMargin

  /** Oracle twin of [[centroidDriftOverPred]]: the [[centroidDriftSql]]
    * chain with `$p`-prefixed names, source relation `src`, and explicit
    * base/batch predicates over its `e` alias — ends in
    * `${p}r(label, n_base, n_batch, centroid_cos)`. The composed weekly
    * oracle instantiates it once per gated day.
    */
  private[operators] def centroidDriftSqlPred(p: String, src: String,
      basePred: String, batchPred: String): String =
    s"""${p}expl AS MATERIALIZED (SELECT vec_id, label,
       |    generate_subscripts(embedding, 1) AS j,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM $src e
       |  WHERE ($basePred) OR ($batchPred)),
       |${p}ca AS MATERIALIZED (SELECT label, j, ${PS.davg("x", 9)} AS c
       |  FROM ${p}expl e WHERE $basePred GROUP BY label, j),
       |${p}cb AS MATERIALIZED (SELECT label, j, ${PS.davg("x", 9)} AS c
       |  FROM ${p}expl e WHERE $batchPred GROUP BY label, j),
       |${p}d AS MATERIALIZED (SELECT a.label,
       |    ${PS.dsum("a.c * b.c", 12)} AS dot,
       |    ${PS.dsum("a.c * a.c", 12)} AS na,
       |    ${PS.dsum("b.c * b.c", 12)} AS nb
       |  FROM ${p}ca a JOIN ${p}cb b ON a.label = b.label AND a.j = b.j
       |  GROUP BY a.label),
       |${p}n1 AS MATERIALIZED (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_base
       |  FROM $src e WHERE $basePred GROUP BY label),
       |${p}n2 AS MATERIALIZED (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_batch
       |  FROM $src e WHERE $batchPred GROUP BY label),
       |${p}r AS MATERIALIZED (SELECT label,
       |  COALESCE(n_base, CAST(0 AS BIGINT)) AS n_base,
       |  COALESCE(n_batch, CAST(0 AS BIGINT)) AS n_batch,
       |  ${PS.prnd("dot / sqrt(na * nb)", 6)} AS centroid_cos
       |FROM ${p}n1 FULL OUTER JOIN ${p}n2 USING (label)
       |LEFT JOIN ${p}d USING (label))""".stripMargin

  /** The drift rows over an ARBITRARY exploded-coordinate relation
    * (vec_id, label, j, x) and its embeddings source — the Spark twin
    * of [[centroidDriftSql]], factored (r18) so the corpus gate reads
    * the corpus [[coords]] while the planted retrain-gate spec
    * feeds constructed batches through the identical arithmetic.
    * The label frame is a FULL OUTER join of the base and batch count
    * relations (r18 review): a label that exists on only ONE side still
    * gets a row (counts coalesced to 0, centroid_cos NULL — there is no
    * pair of centroids to compare), so the retrain gate can see a
    * batch-only label instead of silently serving past it.
    */
  private[graft] def centroidDriftOver(expl: DataFrame, emb: DataFrame,
      split: Long): DataFrame = {
    val s = expl.sparkSession
    import s.implicits._
    centroidDriftOverPred(expl, emb, $"vec_id" < split, $"vec_id" >= split)
  }

  /** [[centroidDriftOver]] with explicit base/batch PREDICATES — the
    * multi-day gate (`ops_week`) compares each day's ARRIVALS against
    * the CURRENT INDEX CONTENT, and after an append day neither side is
    * a single id threshold (day 2's base is "original base ∪ day-1's
    * appended batch"). Rows matching neither predicate are excluded
    * from both sides — exactly the not-yet-arrived days.
    */
  private[graft] def centroidDriftOverPred(expl: DataFrame, emb: DataFrame,
      isBase: org.apache.spark.sql.Column,
      isBatch: org.apache.spark.sql.Column): DataFrame = {
    val s = expl.sparkSession
    import s.implicits._
    def cents(pred: org.apache.spark.sql.Column) =
      expl.filter(pred).groupBy($"label", $"j").agg(P.davg($"x", 9).as("c"))
    val a = cents(isBase).withColumnRenamed("c", "ca")
    val b = cents(isBatch).withColumnRenamed("c", "cb")
    val d = a.join(b, Seq("label", "j"))
      .groupBy($"label")
      .agg(P.dsum($"ca" * $"cb", 12).as("dot"),
        P.dsum($"ca" * $"ca", 12).as("na"),
        P.dsum($"cb" * $"cb", 12).as("nb"))
    val n1 = emb.filter(isBase)
      .groupBy($"label").agg(P.cnt.as("n_base"))
    val n2 = emb.filter(isBatch)
      .groupBy($"label").agg(P.cnt.as("n_batch"))
    n1.join(n2, Seq("label"), "full_outer")
      .join(d, Seq("label"), "left")
      .select($"label",
        coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_batch", lit(0L)).as("n_batch"),
        P.prnd($"dot" / sqrt($"na" * $"nb"), 6).as("centroid_cos"))
  }

  /** (vec_id, label, j, x) coordinate rows of an arbitrary embeddings
    * relation — [[coords]] over the corpus, and planted batches in specs
    * (1-based j, matching the oracle's generate_subscripts).
    */
  private[graft] def explOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select($"vec_id", $"label", posexplode($"embedding").as(Seq("j0", "x0")))
      .select($"vec_id", $"label", ($"j0" + 1).as("j"), $"x0".cast("double").as("x"))
  }

  /** Corpus drift rows over the corpus coordinates ([[coords]]) —
    * read by both `sim_centroid_drift` and `ops_retrain_gate`.
    */
  private[operators] def centroidDriftRows(s: SparkSession, dir: String): DataFrame =
    centroidDriftOver(coords(s, dir), Tables.embeddings(s, dir), VecDriftSplit)

  /** Embedding drift per label between the base corpus and the arriving
    * batch — tx_term_drift's vector-space twin: if a label's batch
    * centroid swings away from its base centroid (an encoder change, an
    * upstream distribution shift), every downstream consumer of the
    * trained IVF/PQ models is degraded and the index needs re-training.
    * Per label, the cosine between base and batch centroids through the
    * pairStats exact-decimal machinery (per-(label, dim) means at scale
    * 9, scaled-decimal dots at scale 12 — no float summation order on
    * either engine). Scale shape: two (label, dim)-keyed mean aggregates
    * over the shared exploded coordinates, a (label, dim) join of two
    * CONSTANT-width centroid relations (labels × dims), and a per-label
    * closing aggregate — the corpus-scale work is the two means.
    */
  val centroidDrift = QueryDef(
    "sim_centroid_drift",
    s"""WITH $centroidDriftSql
       |SELECT label, n_base, n_batch, centroid_cos
       |FROM cdr ORDER BY label""".stripMargin) { (s, dir) =>
    import s.implicits._
    centroidDriftRows(s, dir).orderBy($"label")
  }

  /** Pairwise-cosine distribution over a bounded deterministic sample —
    * the embedding-health diagnostic run before trusting ANY of the ANN
    * stack: anisotropic/degenerate embeddings (all pairs high-cosine)
    * break LSH bucketing, IVF cell balance, and PQ codebooks at once,
    * and this histogram is where that shows first. Cost is sample²
    * (PairHistN² pairs, constant at any corpus size — the dd_recall
    * probe-sample posture), never corpus²; the sample relation
    * broadcasts by construction. Cosines round through prnd(·,6) before
    * binning so bin membership is engine-portable; bins are declared
    * (10 over [−1, 1]).
    */
  val pairHist = QueryDef(
    "sim_pair_hist",
    s"""WITH sq AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |    WHERE vec_id < $PairHistN),
       |pc AS MATERIALIZED (SELECT
       |    ${PS.prnd("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))", 6)} AS cos
       |  FROM sq a JOIN sq b ON a.vec_id < b.vec_id)
       |SELECT CAST(least(9, greatest(0, CAST(floor((cos + 1) * 5) AS BIGINT))) AS BIGINT) AS bin,
       |  COUNT(*) AS n_pairs,
       |  ${PS.prnd("MIN(cos)", 6)} AS min_cos, ${PS.prnd("MAX(cos)", 6)} AS max_cos
       |FROM pc GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
    import s.implicits._
    val sq = Tables.embeddings(s, dir).filter($"vec_id" < PairHistN)
      .select($"vec_id", $"embedding")
    val pc = sq.select($"vec_id".as("a_id"), $"embedding".as("ae"))
      .join(broadcast(sq.select($"vec_id".as("b_id"), $"embedding".as("be"))),
        $"a_id" < $"b_id")
      .select(P.prnd(expr("graft_cosine(ae, be)"), 6).as("cos"))
    pc.select(least(lit(9L), greatest(lit(0L),
        floor(($"cos" + 1) * 5).cast("long"))).as("bin"), $"cos")
      .groupBy($"bin")
      .agg(P.cnt.as("n_pairs"),
        P.prnd(min($"cos"), 6).as("min_cos"),
        P.prnd(max($"cos"), 6).as("max_cos"))
      .orderBy($"bin")
  }

  /** FILTERED ANN top-k — vector search under a metadata predicate
    * (label allowlist), the query shape every production vector store
    * serves ("nearest neighbors WHERE lang = X / tenant = Y"). This is
    * the PRE-FILTER design: the predicate applies to the candidate
    * stream BEFORE any cosine is computed — on the embeddings scan
    * itself, where it reaches the parquet reader as a pushed filter —
    * so the top-k is exact over the eligible members of the probed
    * cells. The alternative (post-filtering an unfiltered top-k) is
    * cheaper per query but silently returns < k results whenever the
    * filter is selective — the documented failure mode this query
    * avoids; the residual approximation is IVF's own (cells outside the
    * probe set), measured by the same recall machinery as the
    * unfiltered path. Plan shape: identical to sim_ivf_kmeans_topk
    * (assignment ⋈ broadcast probe list ⋈ filtered embeddings), so the
    * filter costs a predicate, not a new topology.
    */
  /** Oracle CTE text of the filtered probe ranking (fcand/frk) —
    * appended after kmSql + kqcSql; shared by [[filteredTopk]] and
    * [[filteredRecall]] so both measure the same filtered path.
    */
  private val fProbeSql =
    s"""fcand AS MATERIALIZED (SELECT qc.q_id, a.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
       |  FROM kqc qc
       |  JOIN kaf a ON a.cell = qc.cell AND a.vec_id <> qc.q_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |    AND e.label IN (${FilterLabels.mkString(", ")})
       |  JOIN embeddings qe ON qe.vec_id = qc.q_id),
       |frk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM fcand WHERE NOT isnan(cos))""".stripMargin

  /** MatStore-shared filtered probe ranking — the Spark twin of
    * [[fProbeSql]]: the serving page ([[filteredTopk]]) and its recall
    * gate ([[filteredRecall]]) read the SAME scored list.
    */
  private def filteredRankedM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"sim_km_fprobe:$dir")(filteredRankedBuild(s, dir))

  /** Pre-checkpoint filtered probe build — exposed for the plan-shape
    * spec (the MatStore boundary truncates the query-level plan to a
    * LogicalRDD, as with [[Dedup.jaccardScoredBuild]]).
    */
  private[graft] def filteredRankedBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val qcells = kmQueryCells(s, dir)
    kmAssign(s, dir).select($"vec_id", $"cell")
      .join(broadcast(qcells), "cell")
      .filter($"vec_id" =!= $"q_id")
      // pre-filter: the predicate rides the embeddings scan
      // (PushedFilters) — no cosine is ever computed for an
      // ineligible vector (spec-asserted)
      .join(emb.filter($"label".isin(FilterLabels: _*))
        .select($"vec_id", $"embedding"), "vec_id")
      .join(broadcast(emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))), "q_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, embedding)").as("cos"))
      .filter(!isnan($"cos")) // NaN excluded from ranking, both engines
      // both consumers (sim_filtered_topk, sim_filtered_recall) read
      // rank ≤ LshTopK — bounded top-k aggregate, no window shuffle-sort
      .groupBy($"q_id")
      .agg(call_function("graft_topk",
        struct((-P.prnd($"cos", 6)).as("nc"), $"vec_id", $"cos"),
        lit(LshTopK)).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.vec_id".as("vec_id"), $"col.cos".as("cos"),
        ($"pos" + 1).cast("long").as("rank"))
  }

  val filteredTopk = QueryDef(
    "sim_filtered_topk",
    s"""WITH $kmSql,
       |$kqcSql,
       |$fProbeSql
       |SELECT q_id, vec_id, cosine, rank FROM frk
       |WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    filteredRankedM(s, dir)
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Recall@k of the filtered ANN path against the exact FILTERED
    * brute-force baseline — the gate that closes the filtered stage the
    * way sim_kmeans_recall closes the unfiltered one. The baseline
    * applies the same label predicate before ranking (exact top-k over
    * eligible vectors); the measured loss is therefore IVF's probe
    * approximation alone, under the filter — exactly what a deployment
    * must qualify, because selective filters thin the probed cells and
    * can degrade recall below the unfiltered figure.
    */
  val filteredRecall = QueryDef(
    "sim_filtered_recall",
    s"""WITH $kmSql,
       |bq AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |    WHERE vec_id < $NumQueries),
       |bsc AS MATERIALIZED (SELECT q_id, vec_id,
       |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
       |  FROM bq, embeddings WHERE vec_id <> q_id
       |    AND label IN (${FilterLabels.mkString(", ")})),
       |brk AS MATERIALIZED (SELECT q_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM bsc WHERE NOT isnan(cos)),
       |$kqcSql,
       |$fProbeSql,
       |hits AS MATERIALIZED (SELECT b.q_id, COUNT(*) AS n_hits
       |  FROM brk b JOIN frk l ON l.q_id = b.q_id AND l.vec_id = b.vec_id
       |  WHERE b.rank <= $LshTopK AND l.rank <= $LshTopK
       |  GROUP BY b.q_id)
       |SELECT q.q_id AS q_id, CAST($LshTopK AS BIGINT) AS k,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  ${PS.prnd(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $LshTopK", 6)} AS recall
       |FROM bq q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val brk = bruteTopkPairs(s, dir, onlyLabels = Some(FilterLabels))
    val frk = filteredRankedM(s, dir)
      .filter($"rank" <= LshTopK).select($"q_id", $"vec_id")
    val hits = brk.join(frk, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(P.cnt.as("n_hits"))
    Tables.embeddings(s, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", lit(LshTopK.toLong).as("k"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        P.prnd(coalesce($"n_hits", lit(0L)).cast("double") / LshTopK, 6).as("recall"))
      .orderBy($"q_id")
  }

  /** Recall@k of the trained-quantizer ANN path ([[ivfKmeansTopk]])
    * against the exact brute-force baseline — the IVF twin of
    * [[recall]]: before serving a trained index, measure what fraction
    * of the true top-k survives probing only [[IvfProbes]] cells.
    */
  val kmRecall = QueryDef(
    "sim_kmeans_recall",
    s"""WITH $kmSql,
       |bq AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |    WHERE vec_id < $NumQueries),
       |bsc AS MATERIALIZED (SELECT q_id, vec_id,
       |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
       |  FROM bq, embeddings WHERE vec_id <> q_id),
       |brk AS MATERIALIZED (SELECT q_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM bsc WHERE NOT isnan(cos)),
       |$kmProbeSql,
       |hits AS MATERIALIZED (SELECT b.q_id, COUNT(*) AS n_hits
       |  FROM brk b JOIN krk l ON l.q_id = b.q_id AND l.vec_id = b.vec_id
       |  WHERE b.rank <= $LshTopK AND l.rank <= $LshTopK
       |  GROUP BY b.q_id)
       |SELECT q.q_id AS q_id, CAST($LshTopK AS BIGINT) AS k,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  ${PS.prnd(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $LshTopK", 6)} AS recall
       |FROM bq q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val brk = bruteTopkPairs(s, dir)
    val krk = kmProbeRankedM(s, dir)
      .filter($"rank" <= LshTopK).select($"q_id", $"vec_id")
    val hits = brk.join(krk, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(P.cnt.as("n_hits"))
    Tables.embeddings(s, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", lit(LshTopK.toLong).as("k"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        P.prnd(coalesce($"n_hits", lit(0L)).cast("double") / LshTopK, 6).as("recall"))
      .orderBy($"q_id")
  }
  // --------------------------------------------------------- product quantization

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims (64-dim
    * embeddings), [[PqCodes]] codes per subspace trained with [[PqIters]]
    * Lloyd rounds from the deterministic first-[[PqCodes]] seed, ADC
    * candidates re-ranked exactly at depth [[PqReRank]]. Small fixed
    * constants for the oracle, like the IVF quantizer: at 100 TB the
    * codebooks train on a sample (256 codes per subspace = one byte per
    * subspace per vector) and the SHAPE below is already the scaled one —
    * the ADC scan reads only the M-byte code words, never raw vectors,
    * and the exact re-rank touches [[PqReRank]] candidates per query.
    */
  val PqM = 8
  val PqSubDim = 8
  val PqCodes = 16
  val PqIters = 2
  val PqReRank = 50

  /** PQ CTE chain shared by [[pqTopk]] and [[pqRecall]]. Vectors are
    * L2-NORMALIZED first (cosine = inner product thereafter, so ADC's
    * additive per-subspace dot decomposition approximates exactly the
    * quantity the exact path ranks by); codebooks live in COORDINATE form
    * (m, code, jj, c) and every dot product is an exact scaled-decimal
    * sum over an exploded join — the [[pairStats]] machinery, no list
    * functions needed. Assignment is k-means proper: argmin |v−c|² =
    * argmax (v·c − |c|²/2), code tiebreak. padc = per-candidate ADC
    * score Σ_m table(q, m, code_m(v)); pcand = ADC top-[[PqReRank]];
    * prk = EXACT cosine re-rank of those candidates.
    */
  private val pqTrainSql: String = {
    // one assignment round against coordinate codebook `cb`: for every
    // (vector, subspace), the L2-argmin code
    def assignSql(name: String, cb: String): String =
      s"""${name}d AS MATERIALIZED (SELECT p.vec_id, c.m, c.code,
         |    ${PS.dsum("p.x * c.c", 9)} AS t
         |  FROM pexpl p JOIN $cb c ON c.m = p.m AND c.jj = p.jj
         |  GROUP BY p.vec_id, c.m, c.code),
         |${name}c AS MATERIALIZED (SELECT m, code, ${PS.dsum("c * c", 9)} AS cc
         |  FROM $cb GROUP BY m, code),
         |$name AS MATERIALIZED (SELECT vec_id, m, code FROM (
         |    SELECT d.vec_id, d.m, d.code,
         |      row_number() OVER (PARTITION BY d.vec_id, d.m
         |        ORDER BY ${PS.prnd("d.t - n.cc / 2", 9)} DESC, d.code) AS rn
         |    FROM ${name}d d JOIN ${name}c n ON n.m = d.m AND n.code = d.code) t
         |  WHERE rn = 1)""".stripMargin
    val steps = (1 to PqIters).map { i =>
      s"""${assignSql(s"pa$i", s"pm${i - 1}")},
         |pm$i AS MATERIALIZED (SELECT a.m, a.code, x.jj, ${PS.davg("x.x", 9)} AS c
         |  FROM pa$i a JOIN pexpl x ON x.vec_id = a.vec_id AND x.m = a.m
         |  GROUP BY a.m, a.code, x.jj)""".stripMargin
    }
    (Seq(
      s"""pex AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)""".stripMargin,
      s"""pnrm AS MATERIALIZED (SELECT vec_id, sqrt(${PS.dsum("x * x", 12)}) AS nrm
         |  FROM pex GROUP BY vec_id)""".stripMargin,
      s"""pexpl AS MATERIALIZED (SELECT e.vec_id, (e.j - 1) // $PqSubDim AS m,
         |    (e.j - 1) % $PqSubDim + 1 AS jj, e.x / n.nrm AS x
         |  FROM pex e JOIN pnrm n USING (vec_id))""".stripMargin,
      s"""pm0 AS MATERIALIZED (SELECT m, vec_id AS code, jj, x AS c FROM pexpl
         |  WHERE vec_id < $PqCodes)""".stripMargin)
      ++ steps
      :+ assignSql("paf", s"pm$PqIters")
      :+ s"""ptab AS MATERIALIZED (SELECT p.vec_id AS q_id, c.m, c.code,
            |    ${PS.dsum("p.x * c.c", 9)} AS t
            |  FROM pexpl p JOIN pm$PqIters c ON c.m = p.m AND c.jj = p.jj
            |  WHERE p.vec_id < $NumQueries
            |  GROUP BY p.vec_id, c.m, c.code)""".stripMargin
      ).mkString(",\n")
  }

  /** Full-corpus ADC scan + exact re-rank tail ([[pqTopk]]/[[pqRecall]]);
    * [[ivfpqTopk]] swaps this scan for a cell-pruned one over the same
    * trained artifacts ([[pqTrainSql]]).
    */
  private val pqSql: String = {
    (Seq(pqTrainSql)
      :+ s"""padc AS MATERIALIZED (SELECT t.q_id, a.vec_id, ${PS.dsum("t.t", 9)} AS approx
            |  FROM paf a JOIN ptab t ON t.m = a.m AND t.code = a.code
            |  WHERE a.vec_id <> t.q_id
            |  GROUP BY t.q_id, a.vec_id)""".stripMargin
      :+ s"""pcand AS MATERIALIZED (SELECT q_id, vec_id FROM (
            |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
            |      ORDER BY approx DESC, vec_id) AS rn FROM padc) t
            |  WHERE rn <= $PqReRank)""".stripMargin
      :+ s"""prk AS MATERIALIZED (SELECT c.q_id, c.vec_id,
            |    ${PS.prnd("list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))", 6)} AS cosine,
            |    CAST(row_number() OVER (PARTITION BY c.q_id
            |      ORDER BY ${PS.prnd("list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))", 6)} DESC, c.vec_id) AS BIGINT) AS rank
            |  FROM pcand c
            |  JOIN embeddings qe ON qe.vec_id = c.q_id
            |  JOIN embeddings ce ON ce.vec_id = c.vec_id)""".stripMargin
      ).mkString(",\n")
  }

  /** Normalized per-(vector, subspace) coordinate ARRAYS (vec_id, m,
    * xs[PqSubDim]) — the row shape every dot product reads, and the PQ
    * family's one session-shared vector memo ([[PqM]] rows per vector).
    * Built straight from the embeddings: the norm is one `graft_sdot`
    * per vector (the same per-term rounding and exact sum as the
    * oracle's pnrm dsum), the vector is divided through, and its
    * [[PqSubDim]]-wide slices leave through one generator. Arrays turn
    * each scaled-decimal dot from an explode + join + |N|·d·codes-row
    * hash aggregate into ONE codegen'd `graft_sdot` loop per (vector,
    * subspace, code) row — the PQ hot-path shape.
    */
  private def pqSubM(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.MatStore.of(s, s"sim_pq_sub:$dir") {
      val nrm = sqrt(expr("graft_sdot(embedding, embedding, 12)"))
      Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding", nrm.as("nrm"))
        .select($"vec_id", explode(array((0 until PqM).map { m =>
          struct(lit(m.toLong).as("m"),
            transform(slice($"embedding", m * PqSubDim + 1, PqSubDim),
              x => x.cast("double") / $"nrm").as("xs"))
        }: _*)).as("sub"))
        .select($"vec_id", $"sub.m".as("m"), $"sub.xs".as("xs"))
        // a subspace past the end of a short (or null) embedding gets no
        // row, as in the oracle's pexpl
        .filter(size($"xs") > 0)
    }
  }

  /** Coordinate rows (vec_id, m, jj, x) of [[pqSubM]] — a plan, not a
    * memo: the codebook's Lloyd rounds average per (m, code, jj), and
    * each round re-explodes the subspace arrays rather than reading a
    * checkpointed copy of every normalized coordinate.
    */
  private def pqCoords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqSubM(s, dir)
      .select($"vec_id", $"m", posexplode($"xs").as(Seq("jj0", "x")))
      .select($"vec_id", $"m", ($"jj0" + 1).as("jj"), $"x")
  }

  /** Coordinate codebook → broadcast-shaped array codebook (m, code,
    * cs[PqSubDim], cc = |c|² as the same scaled-decimal sum). A constant
    * M·[[PqCodes]]-row relation at any corpus size.
    */
  private def pqCbArr(cb: DataFrame): DataFrame = {
    import cb.sparkSession.implicits._
    cb.groupBy($"m", $"code")
      .agg(transform(array_sort(collect_list(struct($"jj", $"c"))),
        e => e.getField("c")).as("cs"))
      .withColumn("cc", expr("graft_sdot(cs, cs, 9)"))
  }

  /** One k-means assignment round against a coordinate codebook: per
    * (vector, subspace), argmax (v·c − |c|²/2) — the L2 argmin — as a
    * HASH AGGREGATE (min-struct picks the oracle's row_number row;
    * map-side partials, no per-vector sort). Each dot is one codegen'd
    * `graft_sdot` over the [[pqSubM]] arrays — bit-identical to the
    * oracle's exploded dsum, without its |N|·d·codes-row aggregation.
    * The codebook is M·[[PqCodes]] rows — constant at any corpus size,
    * so the broadcast is always safe.
    */
  private def pqAssignOver(s: SparkSession, dir: String, cb: DataFrame): DataFrame = {
    import s.implicits._
    pqSubM(s, dir).join(broadcast(pqCbArr(cb)), Seq("m"))
      .select($"vec_id", $"m", $"code",
        expr("graft_sdot(xs, cs, 9)").as("t"), $"cc")
      .groupBy($"vec_id", $"m")
      .agg(min(struct((-P.prnd($"t" - $"cc" / 2, 9)).as("ns"), $"code".as("l"))).as("b"))
      .select($"vec_id", $"m", $"b.l".as("code"))
  }

  /** [[PqIters]] Lloyd rounds from the deterministic seed; returns the
    * final coordinate codebook (m, code, jj, c). Updates are exact-
    * decimal per-(m, code, jj) means — identical doubles on both engines.
    */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.MatStore.of(s, s"sim_pq_cb:$dir") {
      val expl = pqCoords(s, dir)
      var cb = expl.filter($"vec_id" < PqCodes)
        .select($"m", $"vec_id".as("code"), $"jj", $"x".as("c"))
      for (_ <- 1 to PqIters)
        cb = expl.join(pqAssignOver(s, dir, cb), Seq("vec_id", "m"))
          .groupBy($"m", $"code", $"jj")
          .agg(P.davg($"x", 9).as("c"))
      cb
    }
  }

  /** Final M-byte code word per vector (vec_id, m, code) — the compressed
    * corpus representation the ADC scan reads; session-shared.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"sim_pq_codes:$dir")(
      pqAssignOver(s, dir, pqCodebook(s, dir)))

  /** Per-query additive lookup table (q_id, m, code, t = q·c as the
    * scaled-decimal dot) over the FINAL codebook — constant
    * |queries|·M·[[PqCodes]] rows, the broadcast side of the ADC scan.
    */
  private def pqQueryTab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqSubM(s, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"m", $"xs")
      .join(broadcast(pqCbArr(pqCodebook(s, dir))), Seq("m"))
      .select($"q_id", $"m", $"code", expr("graft_sdot(xs, cs, 9)").as("t"))
  }

  /** Exact-cosine re-rank of the per-query ADC top-[[PqReRank]]: the
    * query's lookup table (M·[[PqCodes]] dots, constant-size) scores
    * every code word additively, the top candidates are picked with an
    * aggregate top-k (collect/sort/slice — map-side partials, no window
    * shuffle-sort over the score stream), and only those [[PqReRank]]
    * rows ever touch raw vectors again.
    */
  private def pqRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cand = pqCodes(s, dir)
      .join(broadcast(pqQueryTab(s, dir)), Seq("m", "code"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(P.dsum($"t", 9).as("approx"))
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_list(struct((-$"approx").as("na"),
        $"vec_id".as("v")))), 1, PqReRank).as("top"))
      .select($"q_id", explode($"top.v").as("vec_id"))
    val w = Window.partitionBy($"q_id").orderBy(P.prnd($"cos", 6).desc, $"vec_id")
    cand
      .join(broadcast(emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))), "q_id")
      .join(emb.select($"vec_id", $"embedding".as("ce")), "vec_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, ce)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Product-quantization ANN top-k with exact re-rank — the
    * compressed-domain path (IVF-PQ is the standard 100 TB architecture;
    * compose with [[ivfKmeansTopk]]'s cell pruning to ADC-scan only
    * probed cells' code words): each corpus vector is M 4-bit codes,
    * each query builds a constant-size additive lookup table, the scan
    * scores code words without touching raw vectors, and exact cosine
    * runs only on the ADC top-[[PqReRank]].
    */
  val pqTopk = QueryDef(
    "sim_pq_topk",
    s"""WITH $pqSql
       |SELECT q_id, vec_id, cosine, rank FROM prk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    pqRanked(s, dir)
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** Recall@k of the PQ-ADC+re-rank path against exact brute force — the
    * eval gate before serving a compressed index, completing the measured
    * arc SRP-LSH ([[recall]]) → trained IVF ([[kmRecall]]) → PQ.
    */
  val pqRecall = QueryDef(
    "sim_pq_recall",
    s"""WITH $pqSql,
       |bq AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       |    WHERE vec_id < $NumQueries),
       |bsc AS MATERIALIZED (SELECT q_id, vec_id,
       |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cos
       |  FROM bq, embeddings WHERE vec_id <> q_id),
       |brk AS MATERIALIZED (SELECT q_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM bsc WHERE NOT isnan(cos)),
       |hits AS MATERIALIZED (SELECT b.q_id, COUNT(*) AS n_hits
       |  FROM brk b JOIN prk l ON l.q_id = b.q_id AND l.vec_id = b.vec_id
       |  WHERE b.rank <= $LshTopK AND l.rank <= $LshTopK
       |  GROUP BY b.q_id)
       |SELECT q.q_id AS q_id, CAST($LshTopK AS BIGINT) AS k,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  ${PS.prnd(s"CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $LshTopK", 6)} AS recall
       |FROM bq q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val brk = bruteTopkPairs(s, dir)
    val prk = pqRanked(s, dir)
      .filter($"rank" <= LshTopK).select($"q_id", $"vec_id")
    val hits = brk.join(prk, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(P.cnt.as("n_hits"))
    Tables.embeddings(s, dir).filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id", lit(LshTopK.toLong).as("k"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        P.prnd(coalesce($"n_hits", lit(0L)).cast("double") / LshTopK, 6).as("recall"))
      .orderBy($"q_id")
  }

  /** IVF-PQ ANN top-k — the composition of the two trained indexes and
    * the standard 100 TB serving architecture (coarse quantizer prunes
    * cells, product codes score what remains, raw vectors only for the
    * final re-rank): per query, probe the [[IvfProbes]] nearest trained
    * k-means cells ([[kmQueryCells]]), ADC-score ONLY those cells'
    * members from their M-byte code words, then exact-cosine re-rank the
    * ADC top-[[PqReRank]]. Non-probed cells are never read at all — at
    * scale that is partition pruning on the cell key — and the ADC scan
    * reads nprobe/K of the corpus as compressed codes instead of the
    * full-corpus scan [[pqTopk]] pays. The candidate↔codes join keys two
    * corpus-scaling relations on vec_id — a shuffle join by design,
    * never a broadcast.
    */
  val ivfpqTopk = QueryDef(
    "sim_ivfpq_topk",
    s"""WITH $kmSql,
       |$pqTrainSql,
       |$kqcSql,
       |icand AS MATERIALIZED (SELECT qc.q_id, a.vec_id FROM kqc qc
       |  JOIN kaf a ON a.cell = qc.cell AND a.vec_id <> qc.q_id),
       |iadc AS MATERIALIZED (SELECT c.q_id, c.vec_id, ${PS.dsum("t.t", 9)} AS approx
       |  FROM icand c
       |  JOIN paf f ON f.vec_id = c.vec_id
       |  JOIN ptab t ON t.q_id = c.q_id AND t.m = f.m AND t.code = f.code
       |  GROUP BY c.q_id, c.vec_id),
       |icnd AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY approx DESC, vec_id) AS rn FROM iadc) t
       |  WHERE rn <= $PqReRank),
       |irk AS MATERIALIZED (SELECT c.q_id, c.vec_id,
       |    ${PS.prnd("list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY ${PS.prnd("list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))", 6)} DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM icnd c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ce ON ce.vec_id = c.vec_id)
       |SELECT q_id, vec_id, cosine, rank FROM irk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cand = kmAssign(s, dir).select($"vec_id", $"cell")
      .join(broadcast(kmQueryCells(s, dir)), "cell")
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id")
    val top = cand.join(pqCodes(s, dir), "vec_id")
      .join(broadcast(pqQueryTab(s, dir)), Seq("q_id", "m", "code"))
      .groupBy($"q_id", $"vec_id")
      .agg(P.dsum($"t", 9).as("approx"))
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_list(struct((-$"approx").as("na"),
        $"vec_id".as("v")))), 1, PqReRank).as("top"))
      .select($"q_id", explode($"top.v").as("vec_id"))
    val w = Window.partitionBy($"q_id").orderBy(P.prnd($"cos", 6).desc, $"vec_id")
    top
      .join(broadcast(emb.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))), "q_id")
      .join(emb.select($"vec_id", $"embedding".as("ce")), "vec_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, ce)").as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= LshTopK)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("cosine"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  /** MMR geometry: re-rank the [[MmrPool]] best trained-IVF candidates
    * down to [[MmrK]] results, trading relevance against diversity at
    * [[MmrLambda]] (the classic λ·rel − (1−λ)·max-sim-to-selected).
    */
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambda = 0.7

  /** Maximal-marginal-relevance diversity re-ranking — the operator a
    * retrieval stack runs AFTER ANN candidate generation so the k results
    * shown (or stuffed into a RAG context window) are not k near-copies
    * of each other: greedily pick the candidate maximizing
    * λ·relevance − (1−λ)·max cosine to anything already picked. Spark has
    * no such operator; this is the compose-existing-ops re-expression —
    * each greedy step is one bounded join + a min-struct hash argmax, and
    * the whole pass is deterministic (prnd'd scores, vec_id tiebreaks),
    * so the re-ranked page is engine-portable.
    *
    * Scale shape: everything after candidate generation is bounded by the
    * POOL, not the corpus — the candidate↔candidate similarity table is
    * ≤ pool² rows per query (computed once, reused by every step), each
    * of the K steps touches ≤ pool rows per query, and the per-query
    * argmax is a map-side-partial aggregate, never a global sort. The
    * expensive part (ANN candidates) is the already-pruned
    * [[kmProbeRanked]] trained-IVF path, shared with sim_ivf_kmeans_topk.
    */
  val mmrTopk = QueryDef(
    "sim_mmr_topk", {
      val lam = s"CAST($MmrLambda AS DOUBLE)"
      val oml = s"CAST(${1.0 - MmrLambda} AS DOUBLE)"
      val steps = (2 to MmrK).map { j =>
        s"""ms$j AS MATERIALIZED (SELECT q_id, vec_id, rel, score, $j AS mmr_rank FROM (
           |  SELECT g.q_id, g.vec_id, g.rel,
           |    ${PS.prnd(s"$lam * g.rel - $oml * g.mx", 6)} AS score,
           |    row_number() OVER (PARTITION BY g.q_id
           |      ORDER BY ${PS.prnd(s"$lam * g.rel - $oml * g.mx", 6)} DESC, g.vec_id) AS rn
           |  FROM (
           |    SELECT c.q_id, c.vec_id, c.rel, MAX(p.sim) AS mx
           |    FROM mc c
           |    JOIN msel${j - 1} s ON s.q_id = c.q_id
           |    JOIN mp p ON p.q_id = c.q_id AND p.av = c.vec_id AND p.bv = s.vec_id
           |    LEFT JOIN msel${j - 1} x ON x.q_id = c.q_id AND x.vec_id = c.vec_id
           |    WHERE x.vec_id IS NULL
           |    GROUP BY 1, 2, 3) g) t WHERE rn = 1),
           |msel$j AS MATERIALIZED (SELECT q_id, vec_id FROM msel${j - 1}
           |  UNION ALL SELECT q_id, vec_id FROM ms$j)""".stripMargin
      }.mkString(",\n")
      val unions = (2 to MmrK).map(j => s"SELECT * FROM ms$j").mkString(" UNION ALL ")
      s"""WITH $kmSql,
         |$kmProbeSql,
         |mc AS MATERIALIZED (SELECT q_id, vec_id, cosine AS rel FROM krk
         |  WHERE rank <= $MmrPool),
         |mp AS MATERIALIZED (SELECT a.q_id, a.vec_id AS av, b.vec_id AS bv,
         |    ${PS.prnd("list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))", 6)} AS sim
         |  FROM mc a JOIN mc b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |ms1 AS MATERIALIZED (SELECT q_id, vec_id, rel, rel AS score, 1 AS mmr_rank
         |  FROM (SELECT q_id, vec_id, rel,
         |      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
         |    FROM mc) t WHERE rn = 1),
         |msel1 AS MATERIALIZED (SELECT q_id, vec_id FROM ms1),
         |$steps
         |SELECT q_id, vec_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
         |  rel AS relevance, score AS mmr_score
         |FROM (SELECT * FROM ms1 UNION ALL $unions)
         |ORDER BY q_id, mmr_rank""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    // pool-bounded candidate pool off the MatStore-shared probe list:
    // every reference below is a narrow filter over the memoized
    // checkpoint blocks, so no further barrier is needed (the r10 shape
    // re-derived the whole trained-IVF probe pipeline per reference —
    // measured 25s -> 1s at sf0.1 — and then paid four more per-step
    // checkpoints; see the fold below)
    val mc = kmProbeRankedM(s, dir).filter($"rank" <= MmrPool)
      .select($"q_id", $"vec_id", P.prnd($"cos", 6).as("rel"))
    val emb = Tables.embeddings(s, dir)
    val mp = mc.select($"q_id", $"vec_id".as("av"))
      .join(mc.select($"q_id", $"vec_id".as("bv")), Seq("q_id"))
      .filter($"av" =!= $"bv")
      .join(emb.select($"vec_id".as("av"), $"embedding".as("ea")), "av")
      .join(emb.select($"vec_id".as("bv"), $"embedding".as("eb")), "bv")
      .select($"q_id", $"av", $"bv",
        P.prnd(expr("graft_cosine(ea, eb)"), 6).as("sim"))
    // ONE keyed pass folds all K greedy steps (r10 verdict item 3): the
    // per-query state after candidate generation is bounded by the POOL
    // (≤ MmrPool candidate rows, ≤ MmrPool² pair rows per q_id), so the
    // greedy selection is a local computation per query — a single
    // cogroup shuffle on q_id plus a tight loop over ≤ 400 rows
    // replaces the r10 chain of K−1 joins with four per-step
    // localCheckpoint barriers (~0.2s of job-scheduling floor EACH,
    // 4.8× the oracle at sf0.1 for pool-bounded work). The fold
    // replicates the oracle's arithmetic exactly — prnd is
    // floor(x·1e6+0.5)/1e6, λ and 1−λ the very doubles the SQL text
    // interpolates, candidates scanned in vec_id order with strict >
    // so ties pick the smaller id like the row_number tiebreak — so
    // the result is bit-identical to both the r10 join chain and the
    // SQL twin. Corpus-scaling work (ANN probe, pair cosines) stays in
    // DataFrame land; only the pool-bounded tail is fused.
    val lam = MmrLambda
    val oml = 1.0 - MmrLambda
    val kSel = MmrK
    val mcDs = mc.as[(Long, Long, Double)]
    val mpDs = mp.as[(Long, Long, Long, Double)]
    val folded = mcDs.groupByKey(_._1).cogroup(mpDs.groupByKey(_._1)) {
      (q, cs, ps) =>
        val cand = cs.map { case (_, v, r) => (v, r) }.toArray.sortBy(_._1)
        val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
        ps.foreach { case (_, a, b, x) => sim.put((a, b), x) }
        def prnd6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Double, Double)]
        var rank = 1
        while (rank <= kSel && selected.length < cand.length) {
          var bestV = -1L; var bestRel = 0.0
          var bestScore = Double.NegativeInfinity
          cand.foreach { case (v, r) =>
            if (!selected.contains(v)) {
              val score =
                if (rank == 1) r
                else {
                  var mx = Double.NegativeInfinity
                  selected.foreach { sv =>
                    val sx = sim.getOrElse((v, sv), Double.NegativeInfinity)
                    if (sx > mx) mx = sx
                  }
                  prnd6(lam * r - oml * mx)
                }
              if (score > bestScore) { bestV = v; bestRel = r; bestScore = score }
            }
          }
          out += ((q, bestV, rank.toLong, bestRel, bestScore))
          selected += bestV
          rank += 1
        }
        out.iterator
    }
    folded.toDF("q_id", "vec_id", "mmr_rank", "relevance", "mmr_score")
      .orderBy($"q_id", $"mmr_rank")
  }

  // ------------------------------------------- incremental vector append

  /** Oracle chain `${p}expl / ${p}c0..${p}c[[KmIters]] / ${p}af`: the
    * [[kmSql]] Lloyd fit restricted to rows satisfying `fitPred`
    * (seeds included), with the FINAL assignment over rows satisfying
    * `allPred` — the frozen-centroid semantics of the append path (fit
    * on the base, assign base AND batch to the frozen result). `src` is
    * the embeddings relation name, so a composed oracle (`ops_week`)
    * can point it at a shadowing CTE. Prefixed to coexist with the
    * full-corpus [[kmSql]] chain in one WITH.
    */
  private[operators] def kmFrozenSql(p: String, fitPred: String,
      src: String = "embeddings", allPred: String = "TRUE"): String = {
    def assignSql(name: String, cs: String, cols: String, where: String,
        rnPred: String): String =
      s"""$name AS MATERIALIZED (SELECT $cols FROM (
         |    SELECT e.vec_id, ct.cell,
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c) AS cos,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${PS.prnd("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c)", 6)} DESC, ct.cell) AS rn
         |    FROM $src e CROSS JOIN $cs ct WHERE $where) t
         |  WHERE $rnPred)""".stripMargin
    val steps = (1 to KmIters).map { i =>
      s"""${assignSql(s"${p}a$i", s"${p}c${i - 1}", "vec_id, cell", fitPred, "rn = 1")},
         |${p}km$i AS MATERIALIZED (SELECT a.cell, x.j,
         |    ${PS.davg("x.x", 9)} AS c
         |  FROM ${p}a$i a JOIN ${p}expl x USING (vec_id) GROUP BY a.cell, x.j),
         |${p}c$i AS MATERIALIZED (SELECT cell, list(c ORDER BY j) AS c FROM ${p}km$i GROUP BY cell)""".stripMargin
    }
    (Seq(
      s"""${p}expl AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS j,
         |    CAST(unnest(embedding) AS DOUBLE) AS x FROM $src e WHERE $fitPred)""".stripMargin,
      s"""${p}c0 AS MATERIALIZED (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
         |  FROM $src e WHERE e.vec_id < $KmCells AND ($fitPred))""".stripMargin)
      ++ steps
      :+ assignSql(s"${p}af", s"${p}c$KmIters", "vec_id, cell, cos", allPred, "rn = 1")
      ).mkString(",\n")
  }

  /** Oracle probe tail over a frozen chain: rank cells per query
    * against `${p}c[[KmIters]]`, probe [[IvfProbes]], exact cosine +
    * rank over the `${p}af` members — the [[kmProbeSql]] shape with
    * the frozen relations.
    */
  private[operators] def frozenProbeSql(p: String,
      src: String = "embeddings"): String =
    s"""${p}qc AS MATERIALIZED (SELECT q_id, cell FROM (
       |    SELECT q.vec_id AS q_id, ct.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${PS.prnd("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.c)", 6)} DESC, ct.cell) AS rn
       |    FROM $src q CROSS JOIN ${p}c$KmIters ct
       |    WHERE q.vec_id < $NumQueries
       |      AND NOT isnan(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), ct.c))) t
       |  WHERE rn <= $IvfProbes),
       |${p}cand AS MATERIALIZED (SELECT qc.q_id, a.vec_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
       |  FROM ${p}qc qc
       |  JOIN ${p}af a ON a.cell = qc.cell AND a.vec_id <> qc.q_id
       |  JOIN $src e ON e.vec_id = a.vec_id
       |  JOIN $src qe ON qe.vec_id = qc.q_id),
       |${p}rk AS MATERIALIZED (SELECT q_id, vec_id, ${PS.prnd("cos", 6)} AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${PS.prnd("cos", 6)} DESC, vec_id) AS BIGINT) AS rank
       |  FROM ${p}cand WHERE NOT isnan(cos))""".stripMargin

  /** Frozen (base-fit) centroids — a train-once model, memoized so
    * every run of the append arc assigns under the same fit.
    */
  private[operators] def ivfAppendCents(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.MatStore.of(s, s"sim_ivf_append_c:$dir")(
      kmeansFitOver(Tables.embeddings(s, dir)
        .filter($"vec_id" < VecDriftSplit)))
  }

  /** Probe of an arbitrary (assignment, centroids) pair over `emb`
    * queries: top-[[IvfProbes]] cells per query against the frozen
    * centroids (K-row broadcast), probed members streamed through one
    * broadcast join against the cell-keyed assignment, exact cosine,
    * bounded top-[[LshTopK]] aggregate — shared by `sim_ivf_append`
    * and the probe-equality specs so the store path and the rebuild
    * path are measured by the SAME probe.
    */
  private[graft] def ivfProbeOver(emb: DataFrame, assign: DataFrame,
      cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val q = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val qcells = q.crossJoin(broadcast(cents))
      .select($"q_id", $"cell", expr("graft_cosine(qe, c)").as("cos"))
      .filter(!isnan($"cos"))
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_list(struct((-P.prnd($"cos", 6)).as("nc"),
        $"cell".as("l")))), 1, IvfProbes).as("top"))
      .select($"q_id", explode($"top.l").as("cell"))
    assign.select($"vec_id", $"cell")
      .join(broadcast(qcells), "cell")
      .filter($"vec_id" =!= $"q_id")
      .join(emb.select($"vec_id", $"embedding"), "vec_id")
      .join(broadcast(q), "q_id")
      .select($"q_id", $"vec_id", expr("graft_cosine(qe, embedding)").as("cos"))
      .filter(!isnan($"cos"))
      .groupBy($"q_id")
      .agg(call_function("graft_topk",
        struct((-P.prnd($"cos", 6)).as("nc"), $"vec_id", $"cos"),
        lit(LshTopK)).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.vec_id".as("vec_id"),
        P.prnd($"col.cos", 6).as("cosine"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** Incremental vector append (r19 verdict item 3) — the serve-branch
    * reality of the retrain gate: when the gate says SERVE, the day's
    * arriving vectors must still enter the index. The base vectors'
    * assignment under the BASE-fit (frozen) centroids is PUBLISHED to a
    * cell-bucketed store, the arriving batch (vec_id ≥
    * [[VecDriftSplit]]) is assigned to the SAME frozen centroids and
    * APPENDED ([[graft.sources.IndexStore.append]] — the bands/edges
    * maintenance path, now proven for vectors), and the ANN probe runs
    * against the SERVED base+batch assignment. The ORACLE is the full
    * rebuild with frozen centroids ([[kmFrozenSql]]: fit on base,
    * assign everything, probe), so the hash match IS the probe-equality
    * proof that publish→append→serve loses and invents no vectors.
    * `ops_week` drives the same machinery inside the composed
    * multi-day arc; the planted spec flips the gate and proves the
    * serve branch appends.
    *
    * Scale shape: the fit is the [[kmeansFitCore]] dataflow on the
    * base; batch assignment touches batch rows only (K-row centroid
    * broadcast); the store join is cell-bucketed (no exchange on
    * serve); the probe is the bounded top-k aggregate shape of
    * `sim_ivf_kmeans_topk`.
    */
  val ivfAppend = QueryDef(
    "sim_ivf_append",
    s"""WITH ${kmFrozenSql("fz", s"e.vec_id < $VecDriftSplit")},
       |${frozenProbeSql("fz")}
       |SELECT q_id, vec_id, cosine, rank FROM fzrk WHERE rank <= $LshTopK
       |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = ivfAppendCents(s, dir)
    // the publish/append/serve arc runs every time the query runs, in
    // the arc's own store
    val store = Ops.workspace(s, dir, "ivf_app")
    val key = s"ivf_af:$dir"
    graft.sources.IndexStore.publish(s, store, key,
      kmAssignRowsOf(emb.filter($"vec_id" < VecDriftSplit), cents), "cell")
    graft.sources.IndexStore.append(s, store, key,
      kmAssignRowsOf(emb.filter($"vec_id" >= VecDriftSplit), cents))
    ivfProbeOver(emb, graft.sources.IndexStore.serve(s, store, key), cents)
  }

  val defs: Seq[QueryDef] = Seq(bruteforce, lshTopk, pairStats, pairHist,
    centroidDrift, recall, ivfTopk, kmTrain, ivfKmeansTopk, kmRecall,
    filteredTopk, filteredRecall, pqTopk, pqRecall, ivfpqTopk, mmrTopk,
    normAudit, ivfAppend)
}
