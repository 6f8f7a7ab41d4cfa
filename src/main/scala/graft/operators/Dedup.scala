package graft.operators

import graft.Ckpt._
import graft.{QueryDef, Tables}
import graft.functions.{MinHashSig, Portable => P, PortableSql => PS}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for LLM-data pipelines (SURVEY §2f) on `documents`.
  *
  * Scale design (SURVEY §5, the 100 TB gate): signatures (minhash /
  * simhash / SRP) are narrow maps or single keyed aggregations; candidate
  * generation is always a bucket equi-join on (band, key) — NEVER the
  * quadratic all-pairs product — and the exact verify (Jaccard / cosine /
  * Hamming) runs only on candidate pairs. Skew guard at scale: near-
  * identical spam inflates one bucket; cap bucket size or salt the band
  * key (documented switch, not needed at oracle SF).
  */
object Dedup {

  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand = NumHashes / NumBands
  val ShingleK = 5
  val JaccardThreshold = 0.5
  val HammingMax = 3
  val CosineThreshold = 0.4

  /** Skew guard: max members per SALTED LSH (band, bkey) sub-bucket. One
    * spam-heavy bucket otherwise turns the per-bucket self-join quadratic
    * at 100 TB. r9: oversized buckets are SALTED, not truncated — members
    * (in deterministic doc_id order) split into chunks of MaxBucket-1,
    * each chunk sharing the bucket's first member as a representative, so
    * every member still pairs with the rep (cluster connectivity survives;
    * the r8 truncation silently DROPPED members past the cap, losing true
    * dup pairs inside spam buckets). Candidate count per bucket is
    * ceil(n/(cap-1))·C(cap,2) — LINEAR in bucket size. Salting is applied
    * identically in the oracle SQL, so results stay engine-portable even
    * when a bucket IS salted. Cross-chunk non-rep pairs are the one
    * deliberate loss; they stay reachable through the rep for clustering,
    * and near-identical spam passes rep-member verification by
    * construction.
    */
  val MaxBucket = 100

  // ----------------------------------------------------------- exact dedup

  /** Kept (first-wins) document per distinct content hash. */
  val exact = QueryDef(
    "dd_exact",
    """WITH w AS MATERIALIZED (SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |    COUNT(*) AS n_copies FROM documents GROUP BY 1)
      |SELECT d.doc_id, w.content_hash, w.n_copies, d.source, d.lang
      |FROM w JOIN documents d ON d.doc_id = w.keep_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val w = Tables.documents(s, dir)
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), P.cnt.as("n_copies"))
    // fresh scan relation avoids the ambiguous-self-join trap
    val k = Tables.documents(s, dir)
    w.join(k, w("keep_id") === k("doc_id"))
      .select(k("doc_id"), $"content_hash", $"n_copies", k("source"), k("lang"))
  }

  // ---------------------------------------------------------- minhash LSH

  /** MatStore-shared LSH band rows (doc_id, band, bkey) of the corpus: 4
    * bands of 4 projected off the [[mhSigsM]] signature memo, so every
    * band consumer (candidate generation, the incremental probes, the
    * store lifecycle) and every signature consumer (the tuning sweep,
    * the estimator eval) share ONE full-corpus MinHash pass per session.
    * The projection is a [[graft.MatStore.view]]: only the signature
    * blocks stay resident, and the banding re-runs per read. `dd_bands`
    * is the key [[graft.sources.IndexStore.publishCorpus]] publishes; a
    * serving session reads the bucketed table instead and never builds
    * the signatures.
    */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.view(s, s"dd_bands:$dir")(
      bandsOf(mhSigsM(s, dir), NumBands, RowsPerBand))

  /** Band signatures computed from an ARBITRARY documents relation (at
    * minimum `doc_id`, `text`) — the file-incremental ingest path: a
    * batch read straight off a [[graft.sources.CorpusIO.manifestDiff]]
    * work list rather than from the corpus table
    * (`ops_incremental_gate`). Same tokenize → shingle → minhash → band
    * chain as [[minhashBands]], so batch signatures are directly
    * probe-compatible with the published store.
    */
  def bandsOfDocs(docs: DataFrame): DataFrame =
    bandsOf(minhashSigsOf(tokenizedOf(docs)), NumBands, RowsPerBand)

  /** (doc_id, w) tokenization of an ARBITRARY documents relation — THE
    * single definition of the split + ShingleK length gate, shared by the
    * minhash and 3-gram paths. The gate is correctness-bearing (short
    * docs must be excluded identically on the signature path and the
    * 3-gram verify path, or incremental-vs-full parity breaks), so every
    * tokenizer — the corpus table path, [[bandsOfDocs]], and the
    * file-incremental gate's work-list read — routes here rather than
    * re-spelling it. The words array is aliased in its own projection so
    * consumers read one split per document.
    */
  def tokenizedOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= ShingleK)
  }

  /** (doc_id, w) token arrays of the corpus — a plan, not a memo: the
    * `documents` scan and one split per document, re-derived by each
    * reader (the signature build behind [[mhSigsM]], the Jaccard
    * verifies, the recall probe sample). A checkpoint of it would hold a
    * second copy of the corpus text for the session, while a reader's
    * id filter (`doc_id < IncSplit`, the probe sample) pushes through
    * this projection into the parquet read.
    */
  def tokenized(s: SparkSession, dir: String): DataFrame =
    tokenizedOf(Tables.documents(s, dir))

  /** Materialized capped LSH candidate pairs over the shared band memo
    * ([[minhashBands]]) — the signature-store output every minhash
    * consumer (dd_minhash_lsh, the Jaccard verify, dd_clusters) reads.
    */
  def lshCandM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"dd_lsh_cand:$dir")(lshCandidates(minhashBands(s, dir)))

  /** (doc_id, mh0..mh15) MinHash signatures of a (doc_id, w) token
    * relation: one native `graft_minhash` call per document
    * ([[graft.functions.MinHashSig]] — shingles, md5 and the 16 affine
    * mins in one codegen'd loop), then a projection into columns. A
    * per-document map with no per-shingle rows and no exchange, so the
    * signature pass is one narrow stage over the token scan at any
    * corpus size.
    */
  private def minhashSigsOf(withW: DataFrame): DataFrame = {
    val sig = call_function("graft_minhash", col("w"), lit(ShingleK), lit(NumHashes))
    withW.select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(j =>
        col("sig").getItem(j).as(s"mh$j")): _*)
  }

  /** MatStore-shared full signature table (doc_id, mh0..mh15) of the
    * corpus — the one full-corpus MinHash pass; banding
    * ([[minhashBands]], [[lshTuning]]) and component-match estimation
    * ([[estQuality]]) are projections over it.
    */
  private def mhSigsM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"dd_mh_sigs:$dir")(minhashSigsOf(tokenized(s, dir)))

  /** (doc_id, band, bkey) rows of `nb` bands of `r` signature columns
    * each — band b's key is mh(b·r)..mh(b·r+r−1) joined with ','.
    */
  private def bandsOf(sigs: DataFrame, nb: Int, r: Int): DataFrame = {
    val keys = (0 until nb).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until r).map(j =>
          col(s"mh${b * r + j}").cast("string")): _*).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(keys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Candidate pairs (doc_a < doc_b) sharing any LSH band bucket, with the
    * [[MaxBucket]] salted skew cap applied per bucket: buckets at or under
    * the cap keep salt 0 (plan-identical to the uncapped join); oversized
    * buckets chunk their members into md5-HASH-assigned salted sub-buckets
    * of expected size cap-1 with the bucket rep (min doc_id) replicated
    * into every chunk — rep links keep each capped bucket one connected
    * component for [[clusters]].
    *
    * The chunk assignment is a HASH of the member id, not a rank: a
    * row_number over (band, bkey) would sort whole buckets, and an
    * oversized bucket is exactly the adversary-controlled partition the
    * cap exists for (a spam cluster IS a huge bucket — an unsplittable
    * window partition at 100 TB). Here the per-bucket stats are one hash
    * aggregate with map-side partials and the stats join back on
    * (band, bkey) is an AQE-skew-splittable shuffle join; no task ever
    * sorts a bucket. md5 over (band, bkey, id) keeps the assignment
    * deterministic and engine-portable ([[saltedCapSql]] is the exact SQL
    * twin); chunk sizes are cap-1 in expectation rather than exactly —
    * md5 is uniform for UNCONTROLLED ids, and because the bucket key is
    * mixed into the hash input, a chosen-id set cannot reuse one ground
    * collision across buckets: an adversary would have to grind each
    * (band, bkey) independently, and bkey is itself a minhash output the
    * adversary only steers by authoring colliding CONTENT, which the cap
    * already bounds.
    */
  def lshCandidates(b0: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val chunk = maxBucket - 1
    // the band rows feed the stats aggregate and the member side of the
    // stats join; callers hand in a memo, a served store or a narrow
    // projection of a checkpoint, so both reads are cheap scans
    val stats = b0.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("rep"))
    val nChunks = ceil((col("cnt") - 1) / lit(chunk.toDouble)).cast("int")
    val salts =
      when(col("cnt") <= maxBucket, array(lit(0)))
        .when(col("doc_id") === col("rep"), sequence(lit(0), nChunks - 1))
        .otherwise(array(pmod(
          // band+bkey are mixed into the chunk hash: with md5(id) alone an
          // adversary who CONTROLS ids could grind a set whose members
          // land in one chunk of every bucket they share (r13 ADVICE);
          // keyed on the bucket, the same id set spreads independently
          // per bucket, so uniformity holds even for chosen ids.
          // concat(), not concat_ws(): concat_ws silently SKIPS null
          // operands where the oracle's '||' null-propagates — a nullable
          // input would make the engines diverge silently instead of
          // poisoning the hash in both (r14 ADVICE)
          graft.functions.Portable.hexToLong(md5(concat(
            col("band").cast("string"), lit(":"), col("bkey"), lit(":"),
            col("doc_id").cast("string"))), 1, 8),
          nChunks.cast("long")).cast("int")))
    // Both sides of the self-join read the salted rows: the localCheckpoint
    // materializes the salting once, and its blocks are reference-cleaned
    // once the plan is GC'd — unlike persist(), which pins storage until an
    // explicit unpersist() that a composing library caller has no handle to
    // issue. Lazy: the first scan in the join job computes the blocks
    // (per-partition block locks serialize the two sides), so no separate
    // materialization barrier.
    val bands = b0.join(stats, Seq("band", "bkey"))
      .withColumn("salt", explode(salts))
      .drop("cnt", "rep")
      .ckpt
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"), col("salt"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey"), col("salt"))
    a.join(b, Seq("band", "bkey", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Oracle CTE text for the salted [[MaxBucket]] cap: exposes
    * `outName(idCol, band, bkey, salt)` over `src(idCol, band, bkey)` —
    * the SQL twin of [[lshCandidates]]'s salting stage.
    */
  def saltedCapSql(outName: String, src: String, idCol: String,
      cap: Int = MaxBucket): String =
    s"""$outName AS MATERIALIZED (SELECT $idCol, band, bkey, unnest(
       |    CASE WHEN cnt <= $cap THEN [0]
       |         WHEN $idCol = rep THEN range(0, nchunks)
       |         ELSE [CAST(${PS.hexToLong(s"md5(CAST(band AS VARCHAR) || ':' || bkey || ':' || CAST($idCol AS VARCHAR))", 1, 8)} % nchunks AS INT)]
       |         END) AS salt
       |  FROM (
       |    SELECT s.$idCol, s.band, s.bkey, g.cnt, g.rep,
       |      CAST(ceil((g.cnt - 1) / ${cap - 1}.0) AS BIGINT) AS nchunks
       |    FROM $src s JOIN (
       |      SELECT band, bkey, COUNT(*) AS cnt, MIN($idCol) AS rep
       |      FROM $src GROUP BY band, bkey) g USING (band, bkey)) t)""".stripMargin

  /** Oracle CTE text for the signature core (toks/shingled/shh/mh) —
    * the SQL twin of [[minhashSigsOf]], shared by [[lshSql]] and the
    * tuning sweep.
    */
  private val mhSql = {
    // the native kernel's affine constants, spelled as SQL literals
    val mhMins = (0 until NumHashes).map(j =>
      s"MIN((${MinHashSig.a(j)} * h + ${MinHashSig.b(j)}) % ${MinHashSig.P}) AS mh$j")
      .mkString(",\n    ")
    s"""toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |shingled AS MATERIALIZED (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(w) - ${ShingleK - 1}),
       |      i -> ${(0 until ShingleK).map(o => s"w[i + $o]").mkString(" || ' ' || ")})) AS s
       |  FROM toks),
       |shh AS MATERIALIZED (SELECT doc_id, ${PS.hexToLong("md5(s)", 1, 8)} AS h FROM shingled),
       |mh AS MATERIALIZED (SELECT doc_id,
       |    $mhMins
       |  FROM shh GROUP BY doc_id)""".stripMargin
  }

  /** Shared oracle CTE chain exposing lsh_cand(doc_a, doc_b) — the exact
    * SQL twin of [[minhashBands]] + [[lshCandidates]], bucket cap included.
    */
  private[operators] val lshSql = {
    val bandSelects = (0 until NumBands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"CAST(mh${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$mhSql,
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |${saltedCapSql("capped", "bands", "doc_id")},
       |lsh_cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.salt = b.salt AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** MinHash-LSH candidate pairs. */
  val minhashLsh = QueryDef(
    "dd_minhash_lsh",
    s"""WITH $lshSql
       |SELECT doc_a, doc_b FROM lsh_cand ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    lshCandM(s, dir).orderBy("doc_a", "doc_b")
  }

  /** The banding factorizations of [[NumHashes]] the tuning sweep
    * measures — every (bands, rows) with bands·rows = 16.
    */
  private val TuneConfigs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** LSH parameter-tuning sweep — how a pipeline QUALIFIES its banding
    * before committing a 100 TB dedup run. For every factorization
    * b·r = 16 of the signature, the measured candidate-pair volume under
    * that banding plus the config's theoretical s-curve midpoint
    * (1/b)^(1/r) — the Jaccard similarity at which the match probability
    * 1−(1−s^r)^b crosses ~50%. More bands = lower threshold = more
    * recall AND more candidate volume (the verify-stage cost); the
    * sweep exposes that trade as data (monotone 18→27 pairs on this
    * corpus). All five bandings read ONE shared signature build
    * (MatStore — 16 minhashes is the expensive pass; re-banding is a
    * projection), each banding's count is a bucket-keyed self-join
    * exactly like production, and the output is 5 rows. Thresholds are
    * Scala-computed literals emitted into both engines, so no libm
    * pow() coupling. The production path additionally salts oversized
    * buckets ([[MaxBucket]]); the sweep reports RAW volume — the tuning
    * signal — and stays uncapped by design.
    */
  val lshTuning = QueryDef(
    "dd_lsh_tuning", {
      val rows = TuneConfigs.zipWithIndex.map { case ((nb, r), i) =>
        val sels = (0 until nb).map { b =>
          val key = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
            .mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
        }.mkString("\n  UNION ALL ")
        val thr = math.floor(math.pow(1.0 / nb, 1.0 / r) * 1e6 + 0.5) / 1e6
        (s"""bands_$i AS MATERIALIZED (
            |  $sels),
            |cand_$i AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            |  FROM bands_$i a JOIN bands_$i b ON a.band = b.band AND a.bkey = b.bkey
            |    AND a.doc_id < b.doc_id)""".stripMargin,
          s"""SELECT CAST($nb AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
             |  $thr AS s_threshold,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$i) AS n_candidates""".stripMargin)
      }
      s"""WITH $mhSql,
         |${rows.map(_._1).mkString(",\n")}
         |${rows.map(_._2).mkString("\nUNION ALL ")}
         |ORDER BY bands""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val sigs = mhSigsM(s, dir)
    val rows = TuneConfigs.map { case (nb, r) =>
      val bands = bandsOf(sigs, nb, r)
      val a = bands.select($"doc_id".as("doc_a"), $"band", $"bkey")
      val b = bands.select($"doc_id".as("doc_b"), $"band", $"bkey")
      val thr = math.floor(math.pow(1.0 / nb, 1.0 / r) * 1e6 + 0.5) / 1e6
      a.join(b, Seq("band", "bkey")).filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct()
        .agg(P.cnt.as("n_candidates"))
        .select(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(thr).as("s_threshold"), $"n_candidates")
    }
    rows.reduce(_ unionAll _).orderBy($"bands")
  }

  /** Oracle CTE chain (appended after [[lshSql]]) exposing
    * jall(doc_a, doc_b, jac) — the UNFILTERED exact 3-gram Jaccard of
    * every LSH candidate pair with ≥1 shared gram. [[verSql]] filters it
    * to the keep threshold; `dd_est_quality` reads it raw. The explode +
    * DISTINCT + join formulation stays the reference the per-pair
    * [[jaccardVerify]] is checked against.
    */
  private val verCoreSql =
    s"""g3 AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
       |  FROM toks),
       |sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM g3 GROUP BY doc_id),
       |inter AS MATERIALIZED (SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
       |  FROM lsh_cand c
       |  JOIN g3 ga ON ga.doc_id = c.doc_a
       |  JOIN g3 gb ON gb.doc_id = c.doc_b AND gb.s = ga.s
       |  GROUP BY c.doc_a, c.doc_b),
       |jall AS MATERIALIZED (SELECT i.doc_a, i.doc_b,
       |    ni / (sa.n + sb.n - ni) AS jac
       |  FROM inter i
       |  JOIN sz sa ON sa.doc_id = i.doc_a
       |  JOIN sz sb ON sb.doc_id = i.doc_b)""".stripMargin

  /** Oracle CTE chain (appended after [[lshSql]]) exposing
    * ver(doc_a, doc_b, jac) — LSH candidates that pass the exact 3-gram
    * Jaccard threshold. Shared by `dd_ngram_jaccard` and `dd_clusters`.
    */
  private val verSql =
    s"""$verCoreSql,
       |ver AS MATERIALIZED (SELECT doc_a, doc_b, jac FROM jall
       |  WHERE jac >= $JaccardThreshold)""".stripMargin

  /** Spark twin of [[verCoreSql]]: the UNFILTERED exact Jaccard of every
    * LSH candidate pair with ≥1 shared gram, MatStore-shared — the keep
    * decision ([[jaccardPairs]]) and the estimator eval
    * ([[estQuality]]) read the SAME scored relation.
    */
  private def jaccardScoredM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"dd_jac_all:$dir")(jaccardScoredBuild(s, dir))

  /** Spark twin of [[verSql]]: (doc_a, doc_b, jac) pairs that pass the
    * exact 3-gram Jaccard verify on LSH candidates only — a narrow
    * filter over the [[jaccardScoredM]] checkpoint blocks.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jaccardScoredM(s, dir).filter($"jac" >= JaccardThreshold)
  }

  /** Exact 3-gram Jaccard of each pair, verified per pair from the two
    * documents' token arrays: `pairs` is an (a, b) id relation (any two
    * column names), `toksA`/`toksB` are (doc_id, w) token relations for
    * the a and b sides. Each side's token array joins onto its pair,
    * one projection builds both distinct gram sets, and one generator
    * row sizes them and their `array_intersect`. The result is
    * (a, b, jac) for every pair sharing at least one gram — row for row
    * what the explode + DISTINCT + join formulation of [[verCoreSql]]
    * yields, so a left-joining reader (`dd_est_quality`) still reads a
    * missing pair as 0. The integer sizes meet in one IEEE double divide.
    *
    * Scale shape: cost is |pairs| × tokens per document; no relation is
    * sized |candidate docs| × |grams| and nothing shuffles on
    * (doc, gram). A document in k pairs rebuilds its gram set k times,
    * k bounded by the [[MaxBucket]] salting on the capped path and by
    * bucket density on the incremental probes — the same order as the
    * per-pair shared-gram rows the join formulation emits.
    */
  private[graft] def jaccardVerify(pairs: DataFrame, toksA: DataFrame,
      toksB: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns
    def grams(w: String) =
      array_distinct(call_function("graft_shingles", col(w), lit(3)))
    pairs
      .join(toksA.select(col("doc_id").as(a), col("w").as("wa")), a)
      .join(toksB.select(col("doc_id").as(b), col("w").as("wb")), b)
      .select(col(a), col(b), grams("wa").as("ga"), grams("wb").as("gb"))
      // the sizes leave through a one-row generator, not a projection: a
      // predicate on them (ni > 0 here, the callers' jac thresholds)
      // stops at the generator, where through a projection the optimizer
      // would push it into the join condition as a second copy of both
      // gram builds
      .select(col(a), col(b), inline(array(struct(
        size(array_intersect(col("ga"), col("gb"))).as("ni"),
        size(col("ga")).as("na"), size(col("gb")).as("nb")))))
      .filter(col("ni") > 0)
      .select(col(a), col(b), (col("ni") / (col("na") + col("nb") - col("ni"))).as("jac"))
  }

  /** Pre-checkpoint scored build behind [[jaccardScoredM]]: every LSH
    * candidate pair verified against the corpus token arrays. The pair
    * and token joins are NOT hinted: on this synthetic near-dup-free
    * corpus the candidate set is tiny and AQE will broadcast it at
    * runtime, but on a real web crawl (30-50% dup rates) it is a
    * corpus-sized relation, so the plan must not COMMIT to a driver-side
    * build (r10 verdict item 2; ScalePlanSpec asserts the knob-off
    * static plan has no BroadcastExchange here). Exposed pre-checkpoint
    * so the spec can see the real join lineage (the MatStore checkpoint
    * truncates it to a LogicalRDD).
    */
  private[graft] def jaccardScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(s, dir)
    jaccardVerify(lshCandM(s, dir), toks, toks)
  }

  /** Exact 3-gram Jaccard verification on LSH candidates only. */
  val ngramJaccard = QueryDef(
    "dd_ngram_jaccard",
    s"""WITH $lshSql,
       |$verSql
       |SELECT doc_a, doc_b, ${PS.prnd("jac", 6)} AS jaccard
       |FROM ver ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    jaccardPairs(s, dir)
      .select($"doc_a", $"doc_b", P.prnd($"jac", 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator-quality eval — the honest-eval pair for the
    * SIGNATURE itself (dd_recall gates the candidate STAGE; this gates
    * the estimator a pipeline would use to skip the exact verify): per
    * LSH candidate pair, the signature-based Jaccard estimate
    * (matching components / [[NumHashes]] — the unbiased MinHash
    * estimator, stderr ≈ √(J(1−J)/16) ≈ 0.12 at J=0.5) against the
    * exact 3-gram Jaccard, with the absolute error. A pipeline reads
    * the error column to decide whether 16 hashes justify dropping the
    * exact-verify stage, or how far to widen the signature before the
    * estimate is decision-grade.
    *
    * Scale shape: both inputs are MatStore-shared with the production
    * path (the signature table, the unfiltered scored pairs), so the
    * eval costs two bounded joins over candidate-sized relations —
    * never a corpus pass of its own. Estimates k/16 and the exact
    * ni/(na+nb−ni) are single IEEE divisions, engine-portable.
    */
  val estQuality = QueryDef(
    "dd_est_quality", {
      val matchSum = (0 until NumHashes)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $lshSql,
         |$verCoreSql,
         |est AS MATERIALIZED (SELECT c.doc_a, c.doc_b,
         |    ($matchSum) / ${NumHashes}.0 AS est
         |  FROM lsh_cand c
         |  JOIN mh a ON a.doc_id = c.doc_a
         |  JOIN mh b ON b.doc_id = c.doc_b)
         |SELECT e.doc_a, e.doc_b,
         |  ${PS.prnd("e.est", 6)} AS est_jaccard,
         |  ${PS.prnd("COALESCE(j.jac, 0)", 6)} AS exact_jaccard,
         |  ${PS.prnd("abs(e.est - COALESCE(j.jac, 0))", 6)} AS abs_err
         |FROM est e LEFT JOIN jall j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val cand = lshCandM(s, dir)
    val sigs = mhSigsM(s, dir)
    val aSide = sigs.select(($"doc_id".as("doc_a") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j"))): _*)
    val bSide = sigs.select(($"doc_id".as("doc_b") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j"))): _*)
    val matches = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(aSide, "doc_a").join(bSide, "doc_b")
      .select($"doc_a", $"doc_b", (matches / lit(NumHashes.toDouble)).as("est"))
    // candidate pairs with ZERO shared grams drop out of the scored
    // relation (join-based intersection) — they are exactly the pairs
    // the estimator must be graded on hardest, hence the left join + 0
    est.join(jaccardScoredM(s, dir), Seq("doc_a", "doc_b"), "left")
      .select($"doc_a", $"doc_b",
        P.prnd($"est", 6).as("est_jaccard"),
        P.prnd(coalesce($"jac", lit(0.0)), 6).as("exact_jaccard"),
        P.prnd(abs($"est" - coalesce($"jac", lit(0.0))), 6).as("abs_err"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Duplicate clusters — the pipeline's actual keep/drop decision.
    * Connected components over the verified near-dup pair graph
    * (3-gram Jaccard ≥ threshold on LSH candidates): each clustered
    * document gets its cluster representative (min doc_id, the kept copy)
    * and a keep flag. Scale shape: the pair graph is a tiny fraction of
    * the corpus (only verified dups), and the min-label iteration reuses
    * [[GraphOps.components]]'s broadcast-loop skeleton, so the cost after
    * the verify is negligible at any SF.
    */
  val clusters = QueryDef(
    "dd_clusters",
    s"""WITH RECURSIVE $lshSql,
       |$verSql,
       |$clusterCteSql
       |SELECT doc_id, cluster, doc_id = cluster AS keep
       |FROM cl ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    clusterAssign(s, dir)
      .select($"doc_id", $"cluster", ($"doc_id" === $"cluster").as("keep"))
      .orderBy("doc_id")
  }

  /** Oracle CTE `cl(doc_id, cluster)` over `ver` — the label-propagation
    * clusters (needs a `WITH RECURSIVE` prefix); shared by `dd_clusters`
    * and `dd_cluster_canonical`.
    */
  private def clusterCteSql: String =
    """pund AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM ver
      |  UNION ALL SELECT doc_b, doc_a FROM ver),
      |cc AS (SELECT a AS doc_id, a AS lbl FROM pund
      |  UNION
      |  SELECT u.b, c.lbl FROM cc c JOIN pund u ON c.doc_id = u.a),
      |cl AS MATERIALIZED (SELECT doc_id, MIN(lbl) AS cluster FROM cc GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[clusterCteSql]]: (doc_id, cluster) via min-label
    * components over the materialized verified pairs.
    */
  private def clusterAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // jaccardPairs is already materialized by the signature store — the
    // undirected union below reads the same blocks twice
    val p = jaccardPairs(s, dir).select($"doc_a", $"doc_b")
    val und = p.select($"doc_a".as("node"), $"doc_b".as("nb"), lit(1L).as("weight"))
      .union(p.select($"doc_b".as("node"), $"doc_a".as("nb"), lit(1L).as("weight")))
    // near-dup clusters are small cliques/chains (diameter ~1-2): two
    // unchecked rounds then check-per-round converges in ~3 rounds total
    // instead of paying the full 8-round unchecked batch sized for the
    // social graph's diameter
    GraphOps.components(GraphOps.iterRelation(und), uncheckedRounds = 2)
      .select($"node".as("doc_id"), $"comp".as("cluster"))
  }

  /** Quality-based canonical pick per near-dup cluster — WHICH copy
    * survives dedup, decided by the corpus quality score instead of
    * first-wins: for each cluster, the member maximizing `tx_quality`'s
    * composite (doc_id tie-break), with whether that differs from the
    * first-wins (min doc_id) choice. A real curator keeps the BEST copy
    * — the first crawl of a page is often the truncated one. One
    * doc_id-keyed join of the cluster relation against the quality
    * scores (both corpus-scale, size-driven), then a per-cluster
    * max-struct hash argmax (map-side combine — never a per-cluster
    * window sort). The shared quality definition (`TextAnalysis
    * .qualityCol`) guarantees the filter panel and the dedup survivor
    * agree on what "quality" means.
    */
  val clusterCanonical = QueryDef(
    "dd_cluster_canonical",
    s"""WITH RECURSIVE $lshSql,
       |$verSql,
       |$clusterCteSql,
       |${graft.operators.TextAnalysis.qualityCteSql},
       |m AS MATERIALIZED (SELECT c.cluster, c.doc_id, q.quality
       |  FROM cl c JOIN qd q USING (doc_id)),
       |can AS MATERIALIZED (SELECT cluster, doc_id AS canonical_doc, quality AS best_quality,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY quality DESC, doc_id) AS BIGINT) AS rn
       |  FROM m),
       |csz AS MATERIALIZED (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members FROM m GROUP BY cluster)
       |SELECT c.cluster, c.canonical_doc, s.n_members, c.best_quality,
       |  c.canonical_doc <> c.cluster AS differs_from_first_wins
       |FROM can c JOIN csz s USING (cluster)
       |WHERE c.rn = 1 ORDER BY c.cluster""".stripMargin) { (s, dir) =>
    import s.implicits._
    val m = clusterAssign(s, dir)
      .join(graft.operators.TextAnalysis.qualityScored(s, dir), "doc_id")
    // max-struct hash argmax: the winner collapses map-side; n_members
    // rides the same aggregate (no second pass, no window sort)
    m.groupBy($"cluster")
      .agg(max(struct($"quality".as("q"), (-$"doc_id").as("nd"))).as("b"),
        P.cnt.as("n_members"))
      .select($"cluster", (-$"b.nd").as("canonical_doc"), $"n_members",
        $"b.q".as("best_quality"),
        ((-$"b.nd") =!= $"cluster").as("differs_from_first_wins"))
      .orderBy($"cluster")
  }

  // -------------------------------------------------------------- simhash

  /** SimHash signature width and per-band width: 60 bits (15 md5 hex
    * chars — stays positive in a signed 64-bit value in both engines) in
    * 4 pigeonhole bands of 15 bits. Hamming ≤ [[HammingMax]] = 3 flipped
    * bits leave ≥ 1 of the 4 bands intact, and a 15-bit band gives 32,768
    * key values per band — so the expected bucket size stays ~N/32768 and
    * the candidate self-join is never quadratic in the corpus (the 8-bit
    * byte bands of the earlier version had only 256 keys/band: the same
    * bucket-blowup shape as the r4 embedding bug).
    */
  val SimhashBits = 60
  val SimhashBandBits = 15

  /** 60-bit SimHash near-dup pairs with Hamming ≤ 3, candidates pruned by
    * the 4-band pigeonhole AND the shared [[MaxBucket]] skew cap
    * ([[lshCandidates]]) — bounded per-bucket candidate counts even on
    * near-identical spam clusters.
    */
  val simhash = QueryDef(
    "dd_simhash", {
      val h = PS.hexToLong("md5(w)", 1, SimhashBits / 4)
      val votes = (0 until SimhashBits).map(k =>
        s"SUM(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS v$k").mkString(",\n    ")
      val simv = (0 until SimhashBits).map(k =>
        s"(CASE WHEN v$k > 0 THEN CAST(1 AS BIGINT) << $k ELSE 0 END)").mkString(" + ")
      s"""WITH tk AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |th AS MATERIALIZED (SELECT doc_id, $h AS h FROM tk),
         |votes AS MATERIALIZED (SELECT doc_id,
         |    $votes
         |  FROM th GROUP BY doc_id),
         |sim AS MATERIALIZED (SELECT doc_id, $simv AS s FROM votes),
         |sb AS MATERIALIZED (SELECT doc_id, b AS band, (s >> CAST(b * $SimhashBandBits AS INT)) & ${(1 << SimhashBandBits) - 1} AS bkey
         |  FROM sim, generate_series(0, 3) t(b)),
         |${saltedCapSql("scap", "sb", "doc_id")},
         |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM scap a JOIN scap b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.salt = b.salt AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(sa.s, sb2.s)) AS INTEGER) AS hamming
         |FROM cand c
         |JOIN sim sa ON sa.doc_id = c.doc_a
         |JOIN sim sb2 ON sb2.doc_id = c.doc_b
         |WHERE bit_count(xor(sa.s, sb2.s)) <= $HammingMax
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    // native one-pass signature (functions.SimHashSig): same md5-nibble
    // hash and ±1 vote semantics as the oracle's explode+60-column
    // aggregation, computed as a narrow codegen'd projection — no
    // |tokens|-row exchange. Read by the band explode and twice by the
    // signature join back — one lazy materialization.
    val sim = Tables.documents(s, dir)
      .select($"doc_id", call_function("graft_simhash", split($"text", " ")).as("s"))
      .ckpt
    val bands = sim.select($"doc_id",
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright($"s", b * SimhashBandBits)
            .bitwiseAND((1 << SimhashBandBits) - 1).as("bkey"))): _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
    lshCandidates(bands)
      .join(sim.select($"doc_id".as("doc_a"), $"s".as("sa")), "doc_a")
      .join(sim.select($"doc_id".as("doc_b"), $"s".as("sb2")), "doc_b")
      .select($"doc_a", $"doc_b", expr("graft_hamming(sa, sb2)").as("hamming"))
      .filter($"hamming" <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------ embedding dedup

  /** Embedding-cosine near-dup pairs via SRP-LSH buckets (16 planes, 4
    * bands of 4) with exact cosine verify on candidates only.
    *
    * The [[MaxBucket]] skew cap applies to the SRP bucket self-join exactly
    * as it does to the minhash path ([[lshCandidates]]): a 4-plane band has
    * only 16 key values, so near-dup-rich or low-entropy embedding regions
    * produce hot buckets whose candidate count is quadratic in bucket size
    * — the r4 scale-killer. Oversized buckets salt into rep-linked chunks
    * in vec_id order (see [[MaxBucket]]), mirrored in the oracle, so the
    * cap stays engine-portable.
    */
  val embedding = QueryDef(
    "dd_embedding",
    s"""WITH ${Srp.bandKeysSql(16, 4)},
       |${saltedCapSql("srp_capped", "srp_bk", "vec_id")},
       |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM srp_capped a JOIN srp_capped b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.salt = b.salt AND a.vec_id < b.vec_id),
       |scored AS MATERIALIZED (SELECT c.vec_a, c.vec_b,
       |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |      CAST(eb.embedding AS DOUBLE[])) AS cos
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_a
       |  JOIN embeddings eb ON eb.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, ${PS.prnd("cos", 6)} AS cosine
       |FROM scored WHERE cos >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    embScoredM(s, dir)
      .filter($"cos" >= CosineThreshold)
      .select($"vec_a", $"vec_b", P.prnd($"cos", 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Thresholds the embedding sweep reports — exact dyadic/decimal
    * doubles, the same literals in the Spark plan and the SQL text.
    */
  private val SweepThresholds: Seq[Double] = (8 to 19).map(_ / 20.0)

  /** The lowest cosine any reader of [[embScoredM]] counts: the keep
    * threshold or the sweep's lowest. A pair below it changes no row of
    * either query.
    */
  private val ScoredFloor: Double = math.min(CosineThreshold, SweepThresholds.min)

  /** MatStore-shared scored embedding candidate pairs (SRP bucket mates
    * with their exact cosine) — the keep decision ([[embedding]]) and
    * the threshold sweep ([[embeddingSweep]]) read the same scored
    * relation, the jaccardScoredM pattern. Every bucket mate is scored,
    * but only pairs at or above [[ScoredFloor]] are checkpointed: the
    * bucket-mate set is quadratic in bucket size (273,014 pairs at
    * sf0.1, of which 324 reach the floor) and no reader counts the rest.
    */
  private def embScoredM(s: SparkSession, dir: String): DataFrame =
    graft.MatStore.of(s, s"dd_emb_scored:$dir") {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // shared SRP signature table (MatStore); lshCandidates applies the
      // MaxBucket cap — it keys on doc_id, so rename through it and back.
      val cand = lshCandidates(Srp.bandKeysM(s, dir, 16, 4)
          .select($"vec_id".as("doc_id"), $"band", $"bkey"))
        .select($"doc_a".as("vec_a"), $"doc_b".as("vec_b"))
      cand
        .join(emb.select($"vec_id".as("vec_a"), $"embedding".as("ea")), "vec_a")
        .join(emb.select($"vec_id".as("vec_b"), $"embedding".as("eb")), "vec_b")
        .select($"vec_a", $"vec_b", expr("graft_cosine(ea, eb)").as("cos"))
        .filter($"cos" >= ScoredFloor)
    }

  /** Embedding-threshold qualification sweep — [[lshTuning]]'s twin for
    * the EMBEDDING near-dup stage: for every candidate cosine threshold,
    * how many bucket-mate pairs the stage would keep, normalized per
    * vector. A pipeline reads this curve BEFORE committing a 100 TB
    * dedup run: too low a threshold and the verify/cluster stages drown
    * in pairs; too high and real near-dups survive. One pass over the
    * shared scored relation (a single aggregate computes every
    * threshold's count; the corpus size is a 1-row broadcast).
    */
  val embeddingSweep = QueryDef(
    "dd_embedding_sweep", {
      val rows = SweepThresholds.map { t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |  CAST(SUM(CASE WHEN cos >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
           |FROM scored""".stripMargin
      }.mkString("(", ")\nUNION ALL (", ")")
      s"""WITH ${Srp.bandKeysSql(16, 4)},
         |${saltedCapSql("srp_capped", "srp_bk", "vec_id")},
         |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM srp_capped a JOIN srp_capped b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.salt = b.salt AND a.vec_id < b.vec_id),
         |scored AS MATERIALIZED (SELECT c.vec_a, c.vec_b,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |      CAST(eb.embedding AS DOUBLE[])) AS cos
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.vec_a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_b),
         |nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         |sw AS MATERIALIZED ($rows)
         |SELECT threshold, n_pairs,
         |  ${PS.prnd("CAST(n_pairs AS DOUBLE) / CAST(nv.n AS DOUBLE)", 6)} AS pairs_per_vector
         |FROM sw CROSS JOIN nv ORDER BY threshold""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val scored = embScoredM(s, dir)
    // the memo holds only pairs at or above ScoredFloor, so it can be
    // empty where the oracle's scored CTE is not: count 0 there, not the
    // NULL a SUM over no rows gives
    val aggs = SweepThresholds.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when($"cos" >= t, 1L).otherwise(0L)), lit(0L)).as(s"c$i")
    }
    val nv = Tables.embeddings(s, dir).agg(P.cnt.as("n"))
    scored.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(SweepThresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col(s"c$i").as("n_pairs"))
      }: _*)).as("r"))
      .select($"r.threshold".as("threshold"), $"r.n_pairs".as("n_pairs"))
      .crossJoin(broadcast(nv))
      .select($"threshold", $"n_pairs",
        P.prnd($"n_pairs".cast("double") / $"n".cast("double"), 6)
          .as("pairs_per_vector"))
      .orderBy($"threshold")
  }

  /** Probe-sample predicate for [[recallGate]]: a fixed id-prefix slice
    * (dups in this corpus sit at adjacent ids) plus a 10% md5 slice —
    * deterministic, engine-portable, and FIXED-size relative to the
    * corpus, which is what keeps the exact all-pairs ground truth
    * affordable at any SF (the eval cost is probe², never corpus²).
    */
  private def inSample(c: org.apache.spark.sql.Column) =
    c < 200 || P.hexToLong(md5(c.cast("string")), 1, 8) % 100 < 10

  private def inSampleSql(c: String) =
    s"($c < 200 OR ${PS.hexToLong(s"md5(CAST($c AS VARCHAR))", 1, 8)} % 100 < 10)"

  /** Dedup impact funnel — corpus size (docs AND tokens) surviving each
    * dedup stage: raw → after exact (first-wins per content hash) →
    * after near (additionally drop near-dup cluster non-canonicals).
    * THE headline a curator reports ("dedup removed X% of docs, Y% of
    * tokens") and the sanity check that the pipeline is neither inert
    * nor eating the corpus. Built from the same relations the stages
    * themselves use (content-hash min, the verified-pair clusters), so
    * the funnel can never disagree with the gates; token mass is one
    * narrow word-count map aggregated per stage with map-side partials.
    *
    * Survivor policy, stated explicitly: the near stage keeps each
    * cluster's FIRST-WINS member (min doc_id — the ingest-order policy
    * dd_exact and dd_minhash_lsh apply), so its token mass is the
    * first-wins pipeline's. A pipeline that instead adopts
    * [[clusterCanonical]]'s quality-best pick keeps the same DOC count
    * (one survivor per cluster) but a different token mass; that
    * variant's mass follows by joining dd_cluster_canonical's
    * `canonical_doc` picks back to documents, which is why the funnel
    * does not duplicate the stage.
    */
  val impact = QueryDef(
    "dd_impact",
    s"""WITH RECURSIVE $lshSql,
       |$verSql,
       |$clusterCteSql,
       |wc AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc FROM documents),
       |ek AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) t WHERE doc_id = k),
       |nk AS MATERIALIZED (SELECT e.doc_id FROM ek e
       |  LEFT JOIN cl c ON c.doc_id = e.doc_id
       |  WHERE c.doc_id IS NULL OR c.doc_id = c.cluster)
       |SELECT 'a_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(wc) AS BIGINT) AS n_tokens FROM wc
       |UNION ALL SELECT 'b_after_exact', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(wc) AS BIGINT) FROM wc SEMI JOIN ek USING (doc_id)
       |UNION ALL SELECT 'c_after_near', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(wc) AS BIGINT) FROM wc SEMI JOIN nk USING (doc_id)
       |ORDER BY stage""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wc = Tables.documents(s, dir)
      .select($"doc_id", md5($"text").as("h"),
        size(split($"text", " ")).cast("long").as("wc"))
    // exact keep: min doc_id per content hash (hash agg, no window sort)
    val ek = wc.groupBy($"h").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    // near keep: exact keepers minus non-canonical cluster members
    val cl = clusterAssign(s, dir)
    val nk = ek.join(cl, Seq("doc_id"), "left")
      .filter($"cluster".isNull || $"doc_id" === $"cluster")
      .select($"doc_id")
    def stage(name: String, keep: Option[org.apache.spark.sql.DataFrame]) = {
      val base = keep.fold(wc)(k => wc.join(k, Seq("doc_id"), "left_semi"))
      base.agg(P.cnt.as("n_docs"), sum($"wc").as("n_tokens"))
        .select(lit(name).as("stage"), $"n_docs", $"n_tokens")
    }
    stage("a_raw", None)
      .unionAll(stage("b_after_exact", Some(ek)))
      .unionAll(stage("c_after_near", Some(nk)))
      .orderBy($"stage")
  }

  /** The batch/base split of the incremental check — ids ≥ IncSplit are
    * "the arriving batch" (the newest 10% by ingest id; in production,
    * the day's crawl).
    */
  private[graft] val IncSplit = 450L

  /** INCREMENTAL dedup — the day's batch checked against the existing
    * base, NEVER base×base: at 100 TB you dedup the corpus once, then
    * every ingest batch must answer "is this new doc already in the
    * store?" without re-pairing the store against itself. Per batch doc:
    * exact verdict (content hash present in the base — a hash-keyed
    * join), else near verdict (shares an LSH band bucket with a base doc
    * AND passes the exact 3-gram Jaccard verify against that candidate),
    * else keep; `dup_of` is the smallest matching base doc. Cost scales
    * with |batch| × bucket density, not |base|²: the band join is
    * batch→base keyed on (band, bkey) — in production the base side is
    * the PERSISTED signature store (here the session-shared band
    * relation), so the base pays its signatures once, ever; the gram
    * verify runs per candidate pair from the two token arrays
    * ([[jaccardVerify]]), never over a corpus-wide gram table. The salted
    * MaxBucket cap applies to the production store; this check reads the
    * uncapped bands because a batch→base probe is linear in bucket size
    * already.
    */
  val incremental = QueryDef(
    "dd_incremental",
    s"""WITH $mhSql,
       |bands0 AS MATERIALIZED (
       |  ${(0 until NumBands).map { b =>
            val key = (0 until RowsPerBand).map(r => s"CAST(mh${b * RowsPerBand + r} AS VARCHAR)")
              .mkString(" || ',' || ")
            s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
          }.mkString("\n  UNION ALL ")}),
       |pairs AS MATERIALIZED (SELECT DISTINCT bb.doc_id AS b_id, ba.doc_id AS base_id
       |  FROM bands0 bb JOIN bands0 ba ON bb.band = ba.band AND bb.bkey = ba.bkey
       |  WHERE bb.doc_id >= $IncSplit AND ba.doc_id < $IncSplit),
       |cand_ids AS MATERIALIZED (SELECT DISTINCT b_id AS doc_id FROM pairs
       |  UNION SELECT DISTINCT base_id FROM pairs),
       |g3 AS MATERIALIZED (SELECT DISTINCT t.doc_id,
       |    unnest(list_transform(generate_series(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
       |  FROM toks t SEMI JOIN cand_ids c ON c.doc_id = t.doc_id),
       |sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM g3 GROUP BY doc_id),
       |nearp AS MATERIALIZED (SELECT i.b_id, i.base_id FROM (
       |    SELECT p.b_id, p.base_id, COUNT(*) AS ni
       |    FROM pairs p
       |    JOIN g3 ga ON ga.doc_id = p.b_id
       |    JOIN g3 gb ON gb.doc_id = p.base_id AND gb.s = ga.s
       |    GROUP BY p.b_id, p.base_id) i
       |  JOIN sz sa ON sa.doc_id = i.b_id
       |  JOIN sz sb ON sb.doc_id = i.base_id
       |  WHERE i.ni / (sa.n + sb.n - i.ni) >= $JaccardThreshold),
       |bex AS MATERIALIZED (SELECT b.doc_id AS b_id, MIN(a.doc_id) AS dup_of
       |  FROM documents b JOIN documents a
       |    ON md5(a.text) = md5(b.text) AND a.doc_id < $IncSplit
       |  WHERE b.doc_id >= $IncSplit GROUP BY b.doc_id),
       |bnr AS MATERIALIZED (SELECT b_id, MIN(base_id) AS dup_of FROM nearp GROUP BY b_id)
       |SELECT d.doc_id,
       |  CASE WHEN e.dup_of IS NOT NULL THEN 'drop_exact'
       |       WHEN n.dup_of IS NOT NULL THEN 'drop_near'
       |       ELSE 'keep' END AS verdict,
       |  COALESCE(e.dup_of, n.dup_of) AS dup_of
       |FROM documents d
       |LEFT JOIN bex e ON e.b_id = d.doc_id
       |LEFT JOIN bnr n ON n.b_id = d.doc_id
       |WHERE d.doc_id >= $IncSplit""".stripMargin) { (s, dir) =>
    import s.implicits._
    // the band relation IS the persisted signature store of a production
    // ingest (train once, probe per batch): materialized session-wide so
    // the batch and base sides of the probe join read the same blocks
    // instead of re-deriving the signatures per side
    val bands = minhashBands(s, dir)
    val bb = bands.filter($"doc_id" >= IncSplit)
      .select($"doc_id".as("b_id"), $"band", $"bkey")
    val ba = bands.filter($"doc_id" < IncSplit)
      .select($"doc_id".as("base_id"), $"band", $"bkey")
    val pairs = bb.join(ba, Seq("band", "bkey"))
      .select($"b_id", $"base_id").distinct()
    val toks = tokenized(s, dir)
    val nearp = jaccardVerify(pairs, toks, toks)
      .filter($"jac" >= JaccardThreshold)
    val docs = Tables.documents(s, dir)
    val bex = docs.filter($"doc_id" >= IncSplit)
      .select($"doc_id".as("b_id"), md5($"text").as("h"))
      .join(docs.filter($"doc_id" < IncSplit)
        .select($"doc_id".as("a_id"), md5($"text").as("h")), "h")
      .groupBy($"b_id").agg(min($"a_id").as("e_dup"))
    val bnr = nearp.groupBy($"b_id").agg(min($"base_id").as("n_dup"))
    docs.filter($"doc_id" >= IncSplit).select($"doc_id")
      .join(bex.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(bnr.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"e_dup".isNotNull, "drop_exact")
          .when($"n_dup".isNotNull, "drop_near")
          .otherwise("keep").as("verdict"),
        coalesce($"e_dup", $"n_dup").as("dup_of"))
  }

  /** Cross-source duplication matrix — for each (source, source) pair,
    * how many VERIFIED near-dup pairs straddle it and how similar they
    * are. The question a training-data curator actually asks of the
    * dedup output ("how much of crawl A is already in corpus B?") —
    * it decides dedup ORDER and source PRIORITY (which copy survives
    * first-wins). Built entirely on the shared verified-pair relation
    * ([[jaccardPairs]], MatStore — the same pairs dd_ngram_jaccard
    * reports); the two doc→source enrichments are doc_id-keyed joins
    * against the documents table (size-driven — at 100 TB the pair
    * relation is corpus×dup-rate-sized and shuffles; nothing here is
    * broadcast by fiat). Source pairs canonicalize as
    * (least, greatest) so the matrix is symmetric-upper; the mean
    * Jaccard goes through the scaled-long exact mean.
    */
  val crossSource = QueryDef(
    "dd_cross_source",
    s"""WITH $lshSql,
       |$verSql,
       |pe AS MATERIALIZED (SELECT
       |    least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    v.jac
       |  FROM ver v
       |  JOIN documents da ON da.doc_id = v.doc_a
       |  JOIN documents db ON db.doc_id = v.doc_b)
       |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${PS.prnd(PS.davg(PS.prnd("jac", 6), 12), 6)} AS avg_jac
       |FROM pe GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source")
    jaccardPairs(s, dir)
      .join(docs.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"), $"jac")
      .groupBy($"source_a", $"source_b")
      .agg(P.cnt.as("n_pairs"),
        P.prnd(P.davg(P.prnd($"jac", 6), 12), 6).as("avg_jac"))
      .orderBy($"source_a", $"source_b")
  }

  /** Cross-split NEAR-DUP leakage — the eval-integrity gate
    * `etl_split_train_val` cannot provide: its leaked_docs column
    * catches EXACT copies straddling train/val/test (content-hash
    * equality), but a val document that is a near-duplicate of a train
    * document leaks evaluation signal just the same (the "train/test
    * overlap" failure mode decontamination papers measure in n-gram
    * space). Built entirely on relations the pipeline already pays for:
    * the shared VERIFIED pair relation ([[jaccardPairs]] — the same
    * pairs dd_ngram_jaccard reports) and the SAME md5-bucket split
    * assignment as etl_split_train_val (shared constants, so the two
    * panels cannot disagree about which split a document is in). One
    * row per canonicalized (split, split) pair with the pair count,
    * exact mean Jaccard, and the leak flag (cross-split = leak; a
    * train–train near-dup is waste, not leakage).
    *
    * Scale shape: two doc_id-keyed enrichment joins of the pair
    * relation against the split projection (size-driven, never
    * broadcast by fiat — at 100 TB the pair relation is
    * corpus×dup-rate-sized) into a ≤6-row aggregate.
    */
  val splitLeakage = QueryDef(
    "dd_split_leakage",
    s"""WITH $lshSql,
       |$verSql,
       |spl AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN b < ${Etl.SplitTrainMax} THEN 'train'
       |         WHEN b < ${Etl.SplitValMax} THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |      ${PS.hexToLong("md5(CAST(doc_id AS VARCHAR))", 1, 2)} AS b
       |    FROM documents)),
       |pe AS MATERIALIZED (SELECT
       |    least(da.split, db.split) AS split_a,
       |    greatest(da.split, db.split) AS split_b,
       |    v.jac
       |  FROM ver v
       |  JOIN spl da ON da.doc_id = v.doc_a
       |  JOIN spl db ON db.doc_id = v.doc_b)
       |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${PS.prnd(PS.davg(PS.prnd("jac", 6), 12), 6)} AS avg_jac,
       |  split_a <> split_b AS is_leak
       |FROM pe GROUP BY split_a, split_b
       |ORDER BY split_a, split_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    val b = P.hexToLong(md5($"doc_id".cast("string")), 1, 2)
    val spl = Tables.documents(s, dir).select($"doc_id",
      when(b < Etl.SplitTrainMax, "train")
        .when(b < Etl.SplitValMax, "val").otherwise("test").as("split"))
    jaccardPairs(s, dir)
      .join(spl.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(spl.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .select(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"), $"jac")
      .groupBy($"split_a", $"split_b")
      .agg(P.cnt.as("n_pairs"),
        P.prnd(P.davg(P.prnd($"jac", 6), 12), 6).as("avg_jac"))
      .withColumn("is_leak", $"split_a" =!= $"split_b")
      .orderBy($"split_a", $"split_b")
  }

  /** CLUSTER-AWARE train/val/test split — the FIX for what
    * [[splitLeakage]] measures: the split key is the md5 bucket of the
    * doc's near-dup CLUSTER representative (its own id when
    * unclustered), so every member of a verified near-dup cluster lands
    * in the SAME split and cross-split near-dup leakage is zero BY
    * CONSTRUCTION — not by post-hoc filtering, which changes split
    * sizes unpredictably and still leaks anything the filter misses.
    * Same bucket thresholds as `etl_split_train_val` (shared
    * constants); the panel reports per-split doc/token mass and share,
    * how many docs were placed by a cluster rep rather than their own
    * id, and the measured cross-split verified-pair count — structurally
    * 0, carried in the output so the guarantee is DATA a pipeline can
    * gate on, not a comment.
    *
    * Scale shape: the cluster relation is dup-rate-sized (components
    * over verified pairs, shared with dd_clusters); one doc_id-keyed
    * LEFT join against it, a narrow split map, one ≤3-row panel
    * aggregate, and the leak audit re-joins the pair relation against
    * the split assignment (size-driven) into a 1-row broadcast.
    */
  val splitByCluster = QueryDef(
    "etl_split_by_cluster",
    s"""WITH RECURSIVE $lshSql,
       |$verSql,
       |$clusterCteSql,
       |d0 AS MATERIALIZED (SELECT doc.doc_id,
       |    CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS wc,
       |    cl.cluster IS NOT NULL AS clustered,
       |    COALESCE(cl.cluster, doc.doc_id) AS rep
       |  FROM documents doc LEFT JOIN cl ON cl.doc_id = doc.doc_id),
       |d AS MATERIALIZED (SELECT doc_id, wc, clustered,
       |    CASE WHEN ${PS.hexToLong("md5(CAST(rep AS VARCHAR))", 1, 2)} < ${Etl.SplitTrainMax} THEN 'train'
       |         WHEN ${PS.hexToLong("md5(CAST(rep AS VARCHAR))", 1, 2)} < ${Etl.SplitValMax} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM d0),
       |panel AS MATERIALIZED (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(wc) AS BIGINT) AS n_tokens,
       |    ${PS.prnd("COUNT(*) / SUM(COUNT(*)) OVER ()", 6)} AS share,
       |    CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered
       |  FROM d GROUP BY split),
       |lk AS MATERIALIZED (SELECT CAST(COALESCE(SUM(
       |      CASE WHEN da.split <> db.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_pairs
       |  FROM ver v
       |  JOIN d da ON da.doc_id = v.doc_a
       |  JOIN d db ON db.doc_id = v.doc_b)
       |SELECT p.split, p.n_docs, p.n_tokens, p.share, p.n_clustered, lk.leaked_pairs
       |FROM panel p CROSS JOIN lk ORDER BY p.split""".stripMargin) { (s, dir) =>
    import s.implicits._
    val cl = clusterAssign(s, dir)
    val d0 = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("wc"))
      .join(cl, Seq("doc_id"), "left")
      .select($"doc_id", $"wc", $"cluster".isNotNull.as("clustered"),
        coalesce($"cluster", $"doc_id").as("rep"))
    val b = P.hexToLong(md5($"rep".cast("string")), 1, 2)
    // consumed by the panel AND twice by the leak audit
    val d = d0.select($"doc_id", $"wc", $"clustered",
        when(b < Etl.SplitTrainMax, "train")
          .when(b < Etl.SplitValMax, "val").otherwise("test").as("split"))
      .ckpt
    val panel = d.groupBy($"split")
      .agg(P.cnt.as("n_docs"), sum($"wc").as("n_tokens"),
        sum(when($"clustered", 1L).otherwise(0L)).as("n_clustered"))
      .withColumn("share",
        P.prnd($"n_docs" / sum($"n_docs").over(
          org.apache.spark.sql.expressions.Window.partitionBy()), 6))
    val lk = jaccardPairs(s, dir)
      .join(d.select($"doc_id".as("doc_a"), $"split".as("s_a")), "doc_a")
      .join(d.select($"doc_id".as("doc_b"), $"split".as("s_b")), "doc_b")
      .agg(coalesce(sum(when($"s_a" =!= $"s_b", 1L).otherwise(0L)), lit(0L))
        .as("leaked_pairs"))
    panel.crossJoin(broadcast(lk))
      .select($"split", $"n_docs", $"n_tokens", $"share", $"n_clustered",
        $"leaked_pairs")
      .orderBy($"split")
  }

  /** Recall gate for the MinHash-LSH dedup path — the honest eval pair
    * the dedup family was missing (sim_recall's text twin): EXACT 3-gram
    * Jaccard ground truth over ALL pairs inside a bounded probe sample,
    * compared against the LSH candidate set restricted to the same
    * sample. Because the pipeline verifies candidates exactly
    * (dd_ngram_jaccard), its end-to-end recall IS the candidate recall
    * this gate measures; a missed true pair here is a dup the pipeline
    * can never find. Single-row report: sample size, true pairs,
    * in-sample candidates, caught pairs, recall, and candidate
    * efficiency (what fraction of in-sample candidates verify).
    */
  val recallGate = QueryDef(
    "dd_recall",
    s"""WITH $lshSql,
       |st AS MATERIALIZED (SELECT doc_id, w FROM toks WHERE ${inSampleSql("doc_id")}),
       |sg3 AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
       |  FROM st),
       |ssz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sg3 GROUP BY doc_id),
       |sinter AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
       |  FROM sg3 a JOIN sg3 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS MATERIALIZED (SELECT i.doc_a, i.doc_b
       |  FROM sinter i JOIN ssz sa ON sa.doc_id = i.doc_a
       |  JOIN ssz sb ON sb.doc_id = i.doc_b
       |  WHERE ni / (sa.n + sb.n - ni) >= $JaccardThreshold),
       |scand AS MATERIALIZED (SELECT doc_a, doc_b FROM lsh_cand
       |  WHERE ${inSampleSql("doc_a")} AND ${inSampleSql("doc_b")}),
       |caught AS MATERIALIZED (SELECT t.doc_a, t.doc_b FROM truth t
       |  JOIN scand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |SELECT CAST((SELECT COUNT(*) FROM st) AS BIGINT) AS n_sample_docs,
       |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       |  CAST((SELECT COUNT(*) FROM scand) AS BIGINT) AS n_cand,
       |  CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
       |  ${PS.prnd("CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1.0 ELSE CAST((SELECT COUNT(*) FROM caught) AS DOUBLE) / (SELECT COUNT(*) FROM truth) END", 6)} AS recall,
       |  ${PS.prnd("CASE WHEN (SELECT COUNT(*) FROM scand) = 0 THEN 0.0 ELSE CAST((SELECT COUNT(*) FROM caught) AS DOUBLE) / (SELECT COUNT(*) FROM scand) END", 6)} AS cand_efficiency
       |""".stripMargin) { (s, dir) =>
    import s.implicits._
    val st = tokenized(s, dir).filter(inSample($"doc_id"))
    val g3 = st
      .select($"doc_id", explode(array_distinct(
        call_function("graft_shingles", $"w", lit(3)))).as("s"))
      .ckpt
    val sz = g3.groupBy($"doc_id").agg(P.cnt.as("n"))
    val truth = g3.select($"doc_id".as("doc_a"), $"s")
      .join(g3.select($"doc_id".as("doc_b"), $"s"), "s")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(P.cnt.as("ni"))
      .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .filter($"ni" / ($"na" + $"nb" - $"ni") >= JaccardThreshold)
      .select($"doc_a", $"doc_b")
      .ckpt
    val scand = lshCandM(s, dir)
      .filter(inSample($"doc_a") && inSample($"doc_b"))
      .ckpt
    val caught = truth.join(scand, Seq("doc_a", "doc_b"), "left_semi")
    val nd = st.agg(P.cnt.as("n_sample_docs"))
    val nt = truth.agg(P.cnt.as("n_true"))
    val nc = scand.agg(P.cnt.as("n_cand"))
    val ng = caught.agg(P.cnt.as("n_caught"))
    nd.crossJoin(broadcast(nt)).crossJoin(broadcast(nc)).crossJoin(broadcast(ng))
      .select($"n_sample_docs", $"n_true", $"n_cand", $"n_caught",
        P.prnd(when($"n_true" === 0L, 1.0)
          .otherwise($"n_caught".cast("double") / $"n_true"), 6).as("recall"),
        P.prnd(when($"n_cand" === 0L, 0.0)
          .otherwise($"n_caught".cast("double") / $"n_cand"), 6).as("cand_efficiency"))
  }

  /** Span length for [[spanCoverage]] — the 16-token window the
    * substring-dedup literature uses as its "long enough to be
    * copied, short enough to catch partial overlap" default.
    */
  val SpanK = 16

  /** Span-level duplicate coverage — the distributed approximation of
    * EXACT-SUBSTRING dedup ("Deduplicating Training Data Makes Language
    * Models Better"'s suffix-array pass): every overlapping
    * [[SpanK]]-token window is hashed, a span seen in ≥2 DISTINCT
    * documents is duplicated text, and each document reports how many of
    * its token positions are covered by some cross-document span — the
    * per-doc signal a pipeline thresholds to drop partially-copied
    * documents that doc-level Jaccard (different overall content) and
    * chunk-level boilerplate (fixed non-overlapping chunks) both miss.
    * Intra-document repetition deliberately does NOT count
    * (tx_repetition owns that signal): a span must appear in two
    * different docs.
    *
    * Scale shape: the span table is |tokens| rows (one hash per
    * position, the native graft_shingles join); duplicate detection is
    * one shuffle keyed by span hash with a distinct-doc count; the
    * coverage union is a per-document interval sweep — the classic
    * max-previous-end window — partitioned by doc_id, so no task ever
    * sorts more than one document's duplicated spans. Exactly the
    * hash-based span matching large corpora use when a true distributed
    * suffix array is not worth its build cost.
    */
  val spanCoverage = QueryDef(
    "dd_span_coverage",
    s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc FROM documents),
       |sp AS MATERIALIZED (SELECT doc_id, i,
       |    md5(array_to_string(w[i:i + ${SpanK - 1}], ' ')) AS h
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${SpanK - 1})) AS i
       |    FROM t WHERE len(w) >= $SpanK)),
       |dh AS MATERIALIZED (SELECT h FROM sp GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |ds AS MATERIALIZED (SELECT s.doc_id, s.i, s.i + ${SpanK - 1} AS e
       |  FROM sp s JOIN dh USING (h)),
       |cov AS MATERIALIZED (SELECT doc_id, i, e,
       |    COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pe
       |  FROM ds),
       |agg AS MATERIALIZED (SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       |    CAST(SUM(greatest(0, e - greatest(pe, i - 1))) AS BIGINT) AS covered
       |  FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, t.wc,
       |  COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       |  COALESCE(a.covered, 0) AS covered_tokens,
       |  ${PS.prnd("COALESCE(a.covered, 0) / CAST(t.wc AS DOUBLE)", 6)} AS dup_coverage
       |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .withColumn("wc", size($"w").cast("long"))
    val sp = t.filter(size($"w") >= SpanK)
      .select($"doc_id",
        posexplode(call_function("graft_shingles", $"w", lit(SpanK))))
      .select($"doc_id", ($"pos" + 1).cast("long").as("i"), md5($"col").as("h"))
    // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over the span-hash
    // group (128-bit md5 — collisions are not a concern at any corpus
    // size), evaluated as a whole-partition window so duplicate
    // detection is ONE exchange on h with the rows kept in place — the
    // aggregate-then-join-back alternative reads the span table twice
    // and pays a second shuffle (measured 1.2s → 0.8s at sf0.1; the
    // residual is the per-query job floor — oracle 0.33s)
    val wh = Window.partitionBy($"h")
    val ds = sp
      .withColumn("d0", min($"doc_id").over(wh))
      .withColumn("d1", max($"doc_id").over(wh))
      .filter($"d0" =!= $"d1")
      .select($"doc_id", $"i", ($"i" + (SpanK - 1)).as("e"))
    val w = Window.partitionBy($"doc_id").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = ds
      .withColumn("pe", coalesce(max($"e").over(w), lit(0L)))
      .groupBy($"doc_id")
      .agg(P.cnt.as("n_dup_spans"),
        sum(greatest(lit(0L), $"e" - greatest($"pe", $"i" - 1))).as("covered"))
    t.select($"doc_id", $"wc")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"wc",
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
        coalesce($"covered", lit(0L)).as("covered_tokens"),
        P.prnd(coalesce($"covered", lit(0L)) / $"wc".cast("double"), 6)
          .as("dup_coverage"))
  }

  val defs: Seq[QueryDef] = Seq(exact, minhashLsh, lshTuning, ngramJaccard, clusters,
    clusterCanonical, simhash, embedding, embeddingSweep, recallGate, spanCoverage,
    crossSource, incremental, impact, estQuality, splitLeakage, splitByCluster)
}
