package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFns, Portable => P, PortableSql => PS}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ETL / text-enrichment operators (SURVEY §2a).
  *
  * Reference semantics: clean_text + derived columns
  * (reference: spark-processor/spark_streaming.py:61-118), the filtered
  * variant (spark-streaming-pyspark/spark_streaming.py:85-94), ingest dedup
  * (consumer/kafka_consumer.py:94-123), JSON prop extraction, and 30-min-gap
  * sessionization.
  *
  * Scale notes: clean/enrich are pure narrow maps (whole-stage codegen, no
  * shuffle — linear at 100 TB). Dedup is one hash aggregation on the content
  * hash (map-side partials shrink the shuffle to ~one row per distinct hash).
  * Sessionize shuffles once on user_id; state per user is a single window
  * pass (sort within partition), the standard distributed sessionization.
  */
object Etl {

  /** DuckDB twin of TextFns.cleanText (regexp_replace needs the 'g' flag). */
  private val cleanSql =
    """trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  lower(text), 'http\S+|www\S+|https\S+', '', 'g'),
      |  '@\w+', '', 'g'), '#(\w+)', '\1', 'g'),
      |  '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g'))""".stripMargin

  private def enriched(df: org.apache.spark.sql.DataFrame) = {
    val clean = TextFns.cleanText(col("text"))
    df.select(
      col("doc_id"), col("source"), col("lang"),
      clean.as("clean_text"),
      length(clean).cast("long").as("text_length"),
      size(split(clean, " ")).cast("long").as("word_count"),
      (length(clean) > 5).as("has_text"),
      // engagement-style composite of the document's two raw size signals
      // — the analog of the reference's engagement_score = score +
      // num_comments (spark-processor/spark_streaming.py:89)
      (col("n_chars") + size(split(clean, " ")).cast("long")).as("engagement_score"))
  }

  private val enrichedSql =
    s"""SELECT doc_id, source, lang, $cleanSql AS clean_text,
       |  length($cleanSql) AS text_length,
       |  CAST(len(string_split($cleanSql, ' ')) AS BIGINT) AS word_count,
       |  length($cleanSql) > 5 AS has_text,
       |  n_chars + CAST(len(string_split($cleanSql, ' ')) AS BIGINT) AS engagement_score
       |FROM documents""".stripMargin

  /** clean_text chain + text_length/word_count/has_text on documents.
    *
    * No final ORDER BY — here or on any full-output enrichment query
    * (both engine sides, symmetrically): an ETL table at 100 TB is an
    * unordered relation (the reference's streaming sink appends), the
    * correctness gate canonicalizes row order itself, and a global sort
    * in Spark costs a structural second execution of the narrow-map
    * child (the range partitioner's sampling pass — measured 2x on
    * etl_parse_json). Order stays only where it IS
    * the semantics (top-k / ranked panels).
    */
  val cleanText = QueryDef(
    "etl_clean_text",
    enrichedSql) { (s, dir) =>
    enriched(Tables.documents(s, dir))
  }

  /** Streaming-ETL-in-batch-form: enrich then keep only substantial docs. */
  val filterEnrich = QueryDef(
    "etl_filter_enrich",
    s"SELECT * FROM ($enrichedSql) t WHERE text_length > 20") { (s, dir) =>
    enriched(Tables.documents(s, dir)).filter(col("text_length") > 20)
  }

  /** First-wins dedup by content hash (ingest unique-index semantics). */
  val dedupIngest = QueryDef(
    "etl_dedup_ingest",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), P.cnt.as("n_copies"))
  }

  /** JSON property extraction from events.props (from_json, not regex). */
  val parseJson = QueryDef(
    "etl_parse_json",
    s"""WITH ${PS.evCte}
      |SELECT event_id, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
      |  value FROM ev""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"),
        col("value"))
  }

  /** The 30-min-gap session CTE chain (marked → numbered), shared by
    * [[sessionize]] and Analytics' `an_session_stats`. Use as
    * `WITH ${PS.evCte}, $sessionCteSql SELECT ... FROM numbered`.
    */
  private[operators] val sessionCteSql: String =
    """marked AS MATERIALIZED (
      |  SELECT user_id, event_id, ts, value, event_type,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |      OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS MATERIALIZED (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM marked)""".stripMargin

  /** Per-EVENT frame with its session id — the Spark twin of
    * [[sessionCteSql]]'s `numbered` CTE (one keyed exchange, two window
    * passes over it); [[sessions]] aggregates it, `an_session_paths`
    * reads the per-event types.
    */
  private[operators] def numbered(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"ts", $"value", $"event_type",
        when(unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w) > 1800000000L
          || lag($"ts", 1).over(w).isNull, 1).otherwise(0).as("new_session"))
      .withColumn("session_idx",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
  }

  private[operators] def sessions(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    numbered(s, dir)
      .groupBy($"user_id", $"session_idx")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        P.cnt.as("n_events"), P.dsum($"value").as("session_value"))
  }

  /** 30-min-gap sessionization of events: one row per session per user. */
  val sessionize = QueryDef(
    "etl_sessionize",
    s"""WITH ${PS.evCte}, $sessionCteSql
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM numbered GROUP BY user_id, session_idx""".stripMargin) { (s, dir) =>
    sessions(s, dir)
  }

  /** Deterministic stratified sampling — the reproducible data-mixing op
    * of a training pipeline (downsample the dominant language, keep more
    * of the rare ones). The sample decision is a pure function of the
    * row key (md5 bucket), so it is stable across runs, engines,
    * partitionings and SFs — never `rand()`, which is none of those.
    * Scale shape: narrow map + filter on the scan, zero shuffles.
    */
  val stratifiedSample = QueryDef(
    "etl_stratified_sample",
    s"""WITH h AS MATERIALIZED (SELECT doc_id, lang, source,
       |    ${PS.hexToLong("md5(CAST(doc_id AS VARCHAR))", 1, 8)} % 100 AS bucket
       |  FROM documents)
       |SELECT doc_id, lang, source, bucket FROM h
       |WHERE bucket < (CASE WHEN lang = 'en' THEN 20 ELSE 60 END)""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source",
        (P.hexToLong(md5($"doc_id".cast("string")), 1, 8) % 100).as("bucket"))
      .filter($"bucket" < when($"lang" === "en", 20).otherwise(60))
  }

  /** Corpus-prep gate — the composite keep/drop decision a training-data
    * pipeline runs per document, with the reject reason recorded so each
    * filter's yield is auditable (the reference runs the same stages as
    * separate cleaning steps; reference: spark_etl.py:60-118). Stage
    * precedence: token-length bounds, then exact-duplicate (first-wins on
    * content hash), then quality threshold (same formula as `tx_quality`).
    * Shape at 100 TB: one narrow feature map, one content-hash aggregation
    * (the dd_exact shape), one hash join back — no other shuffle.
    */
  val corpusPrep = QueryDef(
    "etl_corpus_prep",
    s"""WITH f AS MATERIALIZED (SELECT doc_id, md5(text) AS h,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN (${TextFns.StopWords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stops
       |  FROM documents),
       |k AS MATERIALIZED (SELECT md5(text) AS h, min(doc_id) AS keep_id
       |  FROM documents GROUP BY 1),
       |s AS MATERIALIZED (SELECT f.doc_id, f.wc,
       |    CAST(0.4 AS DOUBLE) * least(n_chars / 400, CAST(1.0 AS DOUBLE))
       |      + CAST(0.3 AS DOUBLE) * (1 - stops / wc)
       |      + CAST(0.3 AS DOUBLE) * least(((n_chars - wc + 1) / wc) / 8, CAST(1.0 AS DOUBLE)) AS q,
       |    f.doc_id <> k.keep_id AS is_dup
       |  FROM f JOIN k ON f.h = k.h),
       |v AS MATERIALIZED (SELECT doc_id, wc, q,
       |    CASE WHEN wc < 16 THEN 'too_short'
       |      WHEN wc > 94 THEN 'too_long'
       |      WHEN is_dup THEN 'duplicate'
       |      WHEN q < CAST(0.63 AS DOUBLE) THEN 'low_quality'
       |      ELSE 'keep' END AS verdict
       |  FROM s)
       |SELECT doc_id, wc, ${PS.prnd("q", 6)} AS quality, verdict,
       |  verdict = 'keep' AS keep
       |FROM v""".stripMargin) { (s, dir) =>
    import s.implicits._
    val toks = split($"text", " ")
    val f = Tables.documents(s, dir).select(
      $"doc_id", md5($"text").as("h"),
      length($"text").cast("long").as("n_chars"),
      size(toks).cast("long").as("wc"),
      TextFns.countTokensIn(toks, TextFns.StopWords).cast("long").as("stops"))
    // fresh scan for the hash aggregate (the dd_exact ambiguous-self-join
    // guard): k's h must not alias f's h attribute
    val k = Tables.documents(s, dir)
      .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("keep_id"))
    val v = f.join(k, "h").select(
      $"doc_id", $"wc",
      (lit(0.4) * least($"n_chars" / lit(400), lit(1.0))
        + lit(0.3) * (lit(1) - $"stops" / $"wc")
        + lit(0.3) * least((($"n_chars" - $"wc" + 1) / $"wc") / lit(8), lit(1.0))).as("q"),
      ($"doc_id" =!= $"keep_id").as("is_dup"))
      .select($"doc_id", $"wc", $"q",
        when($"wc" < 16, "too_short")
          .when($"wc" > 94, "too_long")
          .when($"is_dup", "duplicate")
          .when($"q" < lit(0.63), "low_quality")
          .otherwise("keep").as("verdict"))
    v.select($"doc_id", $"wc", P.prnd($"q", 6).as("quality"), $"verdict",
        ($"verdict" === "keep").as("keep"))
  }

  /** Log-compaction / CDC last-write-wins: one row per key (user_id)
    * carrying its LATEST event (max ts, ties broken by max event_id) and
    * the version count — the compaction pass an ingest pipeline runs
    * over an append log before serving (the batch twin of
    * [[graft.streaming.UpsertSink]]'s key-wise last-write-wins merge).
    * Scale shape: ONE hash aggregation — the winner is max of a
    * (ts, event_id, value) struct (lexicographic, exact: event_id is
    * unique so value never decides), with map-side partial combine —
    * never a per-key window sort, whose per-partition ordering pass a
    * 100 TB log would pay for no reason.
    */
  val compactLatest = QueryDef(
    "etl_compact_latest",
    s"""WITH ${PS.evCte},
       |r AS MATERIALIZED (SELECT user_id, ts, event_id, value,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions
       |  FROM ev)
       |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       |  value AS last_value, CAST(n_versions AS BIGINT) AS n_versions
       |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(max(struct($"ts", $"event_id", $"value")).as("m"),
        P.cnt.as("n_versions"))
      .select($"user_id", $"m.ts".as("last_ts"), $"m.event_id".as("last_event_id"),
        $"m.value".as("last_value"), $"n_versions")
  }

  /** Packed-sequence length for [[packSequences]] (tokens per training
    * window; docs average ~60 tokens, so ~8 docs pack per sequence).
    */
  val PackSeqLen = 512L

  /** Docs per offset bucket in [[packSequences]]'s two-level prefix sum
    * — bounds any single window task at this many rows regardless of
    * how large a source shard grows. doc_id is a dense BIGINT, so
    * `doc_id div PackBucketDocs` is a deterministic, order-preserving
    * bucketing (no sampled range boundaries, no plan-dependent result).
    */
  val PackBucketDocs = 4096L

  /** Sequence packing — the concatenate-and-chunk step that turns a
    * cleaned corpus into fixed-length training windows (GPT-style: docs
    * are concatenated in a deterministic order and sliced every
    * [[PackSeqLen]] tokens; a doc whose span crosses a boundary continues
    * into the next window). Packing is per SOURCE shard, the way real
    * pipelines pack per shard/file — and the per-source running sum is a
    * TWO-LEVEL prefix sum, not one window per source: level 1 sums
    * within (source, doc_id-div-[[PackBucketDocs]]) buckets (each task
    * bounded at [[PackBucketDocs]] rows, however large the source), and
    * level 2 runs the same exclusive sum over the per-bucket TOTALS
    * (rows = docs/[[PackBucketDocs]] per source — the r9 single-reducer-
    * per-source sort is gone; a 10B-doc source is 2.4M level-2 rows, not
    * 10B). The compose join is keyed on the level-1 partitioning, so no
    * extra exchange on the wide side. Everything is exact BIGINT
    * arithmetic (token offsets via an exclusive running sum, window id
    * via integer division), so the packing table is engine-portable and
    * bucketing-invariant — the oracle computes the identical offsets
    * with one flat window. Output: one row per (source, seq_id) with
    * docs starting there, their token mass, and how many of them cross
    * into the next window.
    */
  val packSequences = QueryDef(
    "etl_pack_sequences",
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc FROM documents),
       |o AS MATERIALIZED (SELECT doc_id, source, wc,
       |    CAST(COALESCE(SUM(wc) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t),
       |a AS MATERIALIZED (SELECT source, CAST(off // $PackSeqLen AS BIGINT) AS seq_id, wc,
       |    ((off + wc - 1) // $PackSeqLen) > (off // $PackSeqLen) AS crossing
       |  FROM o)
       |SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(wc) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN crossing THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
       |FROM a GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("wc"))
    packOver(t)
  }

  /** The two-level-prefix-sum packing over an arbitrary per-doc token
    * mass relation t0(doc_id, source, wc) — factored (r18) so the same
    * packing serves the whitespace mass (`etl_pack_sequences`) and the
    * corpus-learned BPE subword mass (`etl_pack_bpe`); see
    * [[packSequences]] for the scale rationale.
    */
  private def packOver(t0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = t0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = t0.withColumn("bkt", expr(s"doc_id div $PackBucketDocs"))
    // level 1: exclusive prefix within each bounded (source, bucket)
    val w1 = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inb = t.withColumn("ioff", coalesce(sum($"wc").over(w1), lit(0L)))
    // level 2: exclusive prefix over per-bucket totals (tiny per source)
    val w2 = Window.partitionBy($"source").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = t.groupBy($"source", $"bkt").agg(sum($"wc").as("bw"))
      .withColumn("boff", coalesce(sum($"bw").over(w2), lit(0L)))
      .select($"source", $"bkt", $"boff")
    val o = inb.join(boff, Seq("source", "bkt"))
      .withColumn("off", $"ioff" + $"boff")
    o.select($"source",
        expr(s"off div $PackSeqLen").as("seq_id"), $"wc",
        (expr(s"(off + wc - 1) div $PackSeqLen") > expr(s"off div $PackSeqLen")).as("crossing"))
      .groupBy($"source", $"seq_id")
      .agg(P.cnt.as("n_docs"), sum($"wc").as("n_tokens"),
        sum(when($"crossing", 1L).otherwise(0L)).as("n_crossing"))
      .orderBy($"source", $"seq_id")
  }

  /** [[packSequences]] priced in SUBWORD tokens (r17 verdict item 3
    * stretch): identical two-level-prefix packing, but each doc's mass
    * is its BPE subword count under the corpus-learned merges
    * ([[TextAnalysis.bpeDocMass]] — the session-shared learner) instead
    * of the whitespace count. This is the form a real pipeline packs
    * in: window boundaries land on model-token budget, not whitespace
    * estimate. Same oracle chain with the learner CTEs prepended; the
    * packing arithmetic stays exact BIGINT.
    */
  val packBpe = QueryDef(
    "etl_pack_bpe",
    s"""WITH ${graft.operators.TextAnalysis.bpeMassSql},
       |t AS MATERIALIZED (SELECT d.doc_id, d.source,
       |    COALESCE(a.n_subwords, CAST(0 AS BIGINT)) AS wc
       |  FROM documents d LEFT JOIN bag a USING (doc_id)),
       |o AS MATERIALIZED (SELECT doc_id, source, wc,
       |    CAST(COALESCE(SUM(wc) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t),
       |a2 AS MATERIALIZED (SELECT source, CAST(off // $PackSeqLen AS BIGINT) AS seq_id, wc,
       |    ((off + wc - 1) // $PackSeqLen) > (off // $PackSeqLen) AS crossing
       |  FROM o)
       |SELECT source, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(wc) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN crossing THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
       |FROM a2 GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val mass = graft.operators.TextAnalysis.bpeDocMass(s, dir)
      .select($"doc_id", $"n_subwords".as("wc"))
    val t = Tables.documents(s, dir).select($"doc_id", $"source")
      .join(mass, Seq("doc_id"))
    packOver(t)
  }

  /** SCD Type-2 history build — the change-tracked dimension a warehouse
    * derives from a CDC/event log (the history-keeping sibling of
    * [[compactLatest]]'s last-write-wins compaction): each user's
    * purchase events update a derived attribute (the value tier);
    * consecutive equal values are change-detected away, and each
    * surviving change becomes a validity interval
    * [valid_from, valid_to) with a per-key version number and an
    * is_current flag on the open interval.
    *
    * Scale shape: everything is keyed by user_id — ONE hash exchange,
    * then two window passes over the same partitioning (lag for change
    * detection, lead/row_number over the filtered changes; Spark plans
    * a single hashpartitioning exchange and re-sorts the shrunk change
    * set in place). Per-key state is each user's own history — bounded
    * by per-entity activity, never by corpus size — which is exactly
    * the property that lets a 100 TB log build its dimension without a
    * global sort. Ordering ties break on event_id, so the history is
    * deterministic and engine-portable.
    */
  /** Oracle CTE text (upd/ch/sc) of the SCD2 tier-change stream —
    * appended after the `ev` CTE; shared by `etl_scd2` and
    * `q_point_in_time` so both run on the SAME dimension history.
    */
  private[operators] val scdChangeSql: String =
    """upd AS MATERIALIZED (SELECT user_id, ts, event_id,
      |    CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid'
      |      ELSE 'low' END AS tier
      |  FROM ev WHERE event_type = 'purchase'),
      |ch AS MATERIALIZED (SELECT user_id, ts, event_id, tier,
      |    lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM upd),
      |sc AS MATERIALIZED (SELECT user_id, ts, event_id, tier FROM ch
      |  WHERE prev IS NULL OR prev <> tier)""".stripMargin

  /** Spark twin of [[scdChangeSql]]: the consecutive-equal-filtered
    * (user_id, ts, event_id, tier) change stream.
    */
  private[operators] def tierChanges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id",
        when($"value" > 100, "high").when($"value" > 10, "mid")
          .otherwise("low").as("tier"))
      .withColumn("prev", lag($"tier", 1).over(byUser))
      .filter($"prev".isNull || $"prev" =!= $"tier")
      .select($"user_id", $"ts", $"event_id", $"tier")
  }

  val scd2 = QueryDef(
    "etl_scd2",
    s"""WITH ${PS.evCte},
       |$scdChangeSql
       |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, tier,
       |  ts AS valid_from, lead(ts) OVER w AS valid_to,
       |  lead(ts) OVER w IS NULL AS is_current
       |FROM sc WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, dir) =>
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sc = tierChanges(s, dir)
    sc.select($"user_id",
        row_number().over(byUser).cast("long").as("version"), $"tier",
        $"ts".as("valid_from"), lead($"ts", 1).over(byUser).as("valid_to"),
        lead($"ts", 1).over(byUser).isNull.as("is_current"))
  }

  /** Sample count for [[weightedSample]] — the token budget knob: the
    * selection lands exactly this many picks across the corpus. The
    * BIGINT products below need cum·K < 2^63, ample for any plausible
    * (total tokens, K) pair — 1e14 tokens × 2e4 picks; past that the
    * same formula runs at decimal(38,0) (the an_spike_days posture).
    */
  val SampleK = 200L

  /** Token-proportional systematic sampling — the "draw a K-slot sample
    * where every document's chance is proportional to its token mass"
    * op that consumes `tx_corpus_mixture`-style weights (the standard
    * way a training run subsamples an over-represented domain while
    * preserving token share). Deterministic SYSTEMATIC sampling over
    * the doc_id order, never rand(): doc i with token span
    * (off, off+wc] is picked once per multiple of T/K inside its span —
    * picks = ⌊(off+wc)·K/T⌋ − ⌊off·K/T⌋ — so Σpicks = K EXACTLY, a doc
    * with wc ≥ T/K is always picked (with a proportional multi-pick
    * weight), and the whole sample is reproducible across runs,
    * engines, and partitionings (pure integer arithmetic on exact
    * prefix sums).
    *
    * Scale shape: the running token sum is the same TWO-LEVEL exclusive
    * prefix as [[packSequences]] (level 1 inside doc_id-div-
    * [[PackBucketDocs]] buckets, level 2 over per-bucket totals), so no
    * task ever sorts the corpus; the only non-keyed window runs over
    * the |docs|/[[PackBucketDocs]] bucket totals (a third level is the
    * knob past ~10B docs). T arrives as a 1-row broadcast.
    */
  val weightedSample = QueryDef(
    "etl_weighted_sample",
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc FROM documents),
       |o AS MATERIALIZED (SELECT doc_id, source, wc,
       |    CAST(COALESCE(SUM(wc) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t),
       |tt AS MATERIALIZED (SELECT CAST(SUM(wc) AS BIGINT) AS tot FROM t)
       |SELECT doc_id, source, wc,
       |  CAST(((off + wc) * $SampleK) // tot - (off * $SampleK) // tot AS BIGINT) AS picks
       |FROM o CROSS JOIN tt
       |WHERE ((off + wc) * $SampleK) // tot - (off * $SampleK) // tot > 0""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("wc"))
      .withColumn("bkt", expr(s"doc_id div $PackBucketDocs"))
    // two-level exclusive prefix sum (the packSequences shape, corpus-wide)
    val w1 = Window.partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inb = t.withColumn("ioff", coalesce(sum($"wc").over(w1), lit(0L)))
    val w2 = Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)
    val boff = t.groupBy($"bkt").agg(sum($"wc").as("bw"))
      .withColumn("boff", coalesce(sum($"bw").over(w2), lit(0L)))
      .select($"bkt", $"boff")
    val tot = t.agg(sum($"wc").as("tot"))
    val picks = expr(s"((off + wc) * $SampleK) div tot - (off * $SampleK) div tot")
    inb.join(boff, "bkt")
      .withColumn("off", $"ioff" + $"boff")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"source", $"wc", picks.as("picks"))
      .filter($"picks" > 0)
  }

  /** Chunk geometry for [[chunkOverlap]]: window of ChunkSize tokens
    * advancing by ChunkStride (ChunkSize − ChunkStride tokens of overlap
    * between consecutive chunks — the context-preserving retrieval
    * chunking default).
    */
  val ChunkSize = 32L
  val ChunkStride = 24L

  /** Overlapping token chunking — the retrieval/RAG ingestion step that
    * cuts every document into fixed-size token windows with overlap
    * (so no answer span is ever split across a chunk boundary without a
    * copy that contains it whole), emitting one row per chunk with its
    * exact token span and content digest — the table a vector index is
    * built FROM (`sim_*` consume embeddings of exactly such chunks;
    * `tx_boilerplate` is the non-overlapping analysis twin).
    *
    * Scale shape: a pure narrow map — split once, explode the
    * per-doc chunk-index sequence (wc/stride rows), slice the token
    * array per chunk. The last chunk is the first one whose window
    * reaches the doc's end — a further window would be fully contained
    * in it and add no tokens, so it is never emitted (the chunk table
    * carries no duplicate-content rows). No shuffle, no state, fully inside whole-stage
    * codegen; output size is corpus·(1 + overlap/stride). The digest is
    * md5 of the space-joined chunk, so chunk identity is engine-portable
    * (dedup/contamination can run directly on the chunk table).
    */
  val chunkOverlap = QueryDef(
    "etl_chunk_overlap",
    s"""WITH t AS MATERIALIZED (SELECT doc_id, source, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc FROM documents),
       |c AS MATERIALIZED (SELECT doc_id, source, w, wc,
       |    unnest(generate_series(0,
       |      greatest(0, (wc - $ChunkSize + $ChunkStride - 1) // $ChunkStride))) AS i FROM t)
       |SELECT doc_id, source, CAST(i AS BIGINT) AS chunk_id,
       |  CAST(i * $ChunkStride + 1 AS BIGINT) AS tok_start,
       |  CAST(least(i * $ChunkStride + $ChunkSize, wc) AS BIGINT) AS tok_end,
       |  CAST(least(i * $ChunkStride + $ChunkSize, wc) - i * $ChunkStride AS BIGINT) AS n_tokens,
       |  md5(array_to_string(w[(i * $ChunkStride + 1):(i * $ChunkStride + $ChunkSize)], ' ')) AS chunk_md5
       |FROM c""".stripMargin) { (s, dir) =>
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", $"source", split($"text", " ").as("w"))
      .withColumn("wc", size($"w").cast("long"))
    t.select($"doc_id", $"source", $"w", $"wc",
        explode(sequence(lit(0L),
          greatest(lit(0L),
            expr(s"(wc - $ChunkSize + $ChunkStride - 1) div $ChunkStride")))).as("i"))
      .select($"doc_id", $"source", $"i".as("chunk_id"),
        ($"i" * ChunkStride + 1).as("tok_start"),
        least($"i" * ChunkStride + ChunkSize, $"wc").as("tok_end"),
        (least($"i" * ChunkStride + ChunkSize, $"wc") - $"i" * ChunkStride).as("n_tokens"),
        md5(array_join(slice($"w", ($"i" * ChunkStride + 1).cast("int"), lit(ChunkSize.toInt)), " "))
          .as("chunk_md5"))
  }

  /** md5-bucket thresholds for the 90/5/5 train/val/test split:
    * 2 hex chars → 0..255; < 230 train, < 243 val, else test.
    */
  val SplitTrainMax = 230L
  val SplitValMax = 243L

  /** Deterministic train/val/test split with a cross-split leakage gate —
    * the step every training-data pipeline runs last: assign each
    * document a split from a hash of its ID (stable under corpus growth:
    * a doc never migrates when neighbors are added, unlike
    * row_number-range splits), then report, per split, the doc/token
    * budget and how many documents have an EXACT-content twin in a
    * different split (the eval-contamination accounting
    * tx_contamination does against an external eval set, here applied
    * between the corpus's own splits — a leaked val doc inflates eval
    * scores).
    *
    * Scale shape: one narrow map (hash, token count, content digest),
    * one shuffle on the content hash for the distinct-split count, one
    * hash-join back on the digest, then a 3-group aggregate with
    * map-side partials. No broadcast of anything data-scaling; the
    * 1-row total for shares rides a window over 3 rows.
    */
  val splitTrainVal = QueryDef(
    "etl_split_train_val",
    s"""WITH d AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN b < $SplitTrainMax THEN 'train'
       |         WHEN b < $SplitValMax THEN 'val' ELSE 'test' END AS split,
       |    wc, h
       |  FROM (SELECT doc_id,
       |      ${PS.hexToLong("md5(CAST(doc_id AS VARCHAR))", 1, 2)} AS b,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
       |      md5(text) AS h
       |    FROM documents)),
       |hs AS MATERIALIZED (SELECT h, COUNT(DISTINCT split) AS ns FROM d GROUP BY h)
       |SELECT split, COUNT(*) AS n_docs, CAST(SUM(wc) AS BIGINT) AS n_tokens,
       |  ${PS.prnd("COUNT(*) / SUM(COUNT(*)) OVER ()", 6)} AS share,
       |  CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaked_docs
       |FROM d JOIN hs USING (h)
       |GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    import s.implicits._
    val b = P.hexToLong(md5($"doc_id".cast("string")), 1, 2)
    val d = Tables.documents(s, dir).select(
      $"doc_id",
      when(b < SplitTrainMax, "train")
        .when(b < SplitValMax, "val").otherwise("test").as("split"),
      size(split($"text", " ")).cast("long").as("wc"),
      md5($"text").as("h"))
    val hs = d.groupBy($"h").agg(countDistinct($"split").as("ns"))
    d.join(hs, "h")
      .groupBy($"split")
      .agg(P.cnt.as("n_docs"), sum($"wc").as("n_tokens"),
        sum(when($"ns" > 1, 1L).otherwise(0L)).as("leaked_docs"))
      .withColumn("share",
        P.prnd($"n_docs" / sum($"n_docs").over(Window.partitionBy()), 6))
      .select($"split", $"n_docs", $"n_tokens", $"share", $"leaked_docs")
      .orderBy($"split")
  }

  /** Columns the profiler reports on — a declared list, the schema
    * contract of the profile (never inferred at run time).
    */
  private val ProfileCols = Seq("user_id", "event_type", "value", "props")

  /** Column-level data-quality profile of the events feed — null count
    * and exact distinct cardinality per declared column, the profiling
    * pass every ingest pipeline runs before trusting a new drop (nulls
    * spiking = upstream schema drift; distinct collapsing = a constant
    * column). ONE scan: the null counts are plain map-side sums and the
    * multi-column COUNT(DISTINCT) plans a single Expand(k×) pass —
    * versus k separate scans of a 100 TB feed. Exact distinct is the
    * oracle-SF choice; the documented 100 TB switch is
    * approx_count_distinct (HLL, the an_hll_users machinery), same plan
    * shape with constant-size partials.
    */
  val profileColumns = QueryDef(
    "etl_profile_columns",
    s"""WITH ${PS.evCte},
       |a AS MATERIALIZED (SELECT COUNT(*) AS n_rows,
       |  ${ProfileCols.map(c =>
            s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS ${c}_nulls, " +
            s"COUNT(DISTINCT $c) AS ${c}_dist").mkString(",\n  |  ")}
       |FROM ev)
       |${ProfileCols.map(c =>
            s"SELECT '$c' AS col_name, CAST(n_rows AS BIGINT) AS n_rows, " +
            s"CAST(${c}_nulls AS BIGINT) AS n_nulls, CAST(${c}_dist AS BIGINT) AS n_distinct FROM a")
            .mkString("\n|UNION ALL ")}
       |ORDER BY col_name""".stripMargin) { (s, dir) =>
    import s.implicits._
    val aggs = (P.cnt.as("n_rows") +: ProfileCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      count_distinct(col(c)).as(s"${c}_dist")))).toIndexedSeq
    val a = Tables.events(s, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = ProfileCols
      .map(c => s"'$c', ${c}_nulls, ${c}_dist").mkString(", ")
    a.select(
        expr(s"stack(${ProfileCols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct)"),
        $"n_rows")
      .select($"col_name", $"n_rows", $"n_nulls", $"n_distinct")
      .orderBy($"col_name")
  }

  /** Column-profile drift between the event history and the ARRIVING
    * day — the schema/quality twin of the content drift monitors
    * (tx_term_drift, sim_centroid_drift, sent_drift): per declared
    * column, null-rate and distinct cardinality on the base (every day
    * before the corpus max date) vs the arriving batch (the max date —
    * the partition a daily ingest just landed), with the null-rate
    * delta. A producer schema regression (a field going null, an enum
    * collapsing to one value) shows here on day one, before any
    * downstream join silently degrades. ONE conditional-aggregate pass
    * over the events scan (COUNT(DISTINCT CASE ...) per side) + a 1-row
    * max-date broadcast; the batch boundary is the ingest high-water
    * DATE, never wall-clock now() — deterministic like ops_freshness.
    */
  val profileDrift = QueryDef(
    "etl_profile_drift",
    s"""WITH ${PS.evCte},
       |m AS MATERIALIZED (SELECT MAX(CAST(ts AS DATE)) AS mx FROM ev),
       |a AS MATERIALIZED (SELECT
       |  CAST(SUM(CASE WHEN CAST(ts AS DATE) < m.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |  CAST(SUM(CASE WHEN CAST(ts AS DATE) = m.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
       |  ${ProfileCols.map(c =>
            s"CAST(SUM(CASE WHEN CAST(ts AS DATE) < m.mx AND $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_bn, " +
            s"CAST(SUM(CASE WHEN CAST(ts AS DATE) = m.mx AND $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_tn, " +
            s"CAST(COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) < m.mx THEN $c END) AS BIGINT) AS ${c}_bd, " +
            s"CAST(COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) = m.mx THEN $c END) AS BIGINT) AS ${c}_td")
            .mkString(",\n  |  ")}
       |FROM ev CROSS JOIN m)
       |${ProfileCols.map(c =>
            s"SELECT '$c' AS col_name, n_base, n_batch, " +
            s"${c}_bd AS distinct_base, ${c}_td AS distinct_batch, " +
            s"${PS.prnd(s"${c}_bn / CAST(n_base AS DOUBLE)", 6)} AS null_rate_base, " +
            s"${PS.prnd(s"${c}_tn / CAST(n_batch AS DOUBLE)", 6)} AS null_rate_batch, " +
            s"${PS.prnd(s"abs(${c}_tn / CAST(n_batch AS DOUBLE) - ${c}_bn / CAST(n_base AS DOUBLE))", 6)} AS null_rate_delta FROM a")
            .mkString("\n|UNION ALL ")}
       |ORDER BY col_name""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
    val m = ev.agg(max($"ts".cast("date")).as("mx"))
    // one (column, value) explode + a SINGLE two-phase distinct, not K
    // count_distincts in one aggregate — Spark plans multi-distinct via
    // an Expand that replicates every input row (K+1)× into one hash
    // aggregate (measured 1.16s at sf0.1); the exploded shape is K
    // narrow rows per event into the standard partial-distinct pipeline
    // (0.3s). Casting to string for the shared value column is
    // distinct-preserving (injective per type) — EXCEPT that IEEE -0.0
    // and 0.0 are one typed distinct value on both engines but two
    // strings ("-0.0" vs "0.0"), so floating columns are canonicalized
    // (-0.0 → 0.0; NaN passes through — both engines treat NaN as one
    // distinct value and it stringifies uniquely) before the cast so
    // the string mapping is injective on the typed equivalence classes
    // (r12 ADVICE).
    def canon(c: String): org.apache.spark.sql.Column = ev.schema(c).dataType match {
      case DoubleType | FloatType =>
        when(col(c) === 0.0, lit(0.0).cast(ev.schema(c).dataType)).otherwise(col(c))
      case _ => col(c)
    }
    val kv = ev.crossJoin(broadcast(m))
      .select(($"ts".cast("date") === $"mx").as("is_batch"),
        explode(array(ProfileCols.map(c =>
          struct(lit(c).as("c"), canon(c).cast("string").as("v"))): _*)).as("kv"))
      .select($"is_batch", $"kv.c".as("col_name"), $"kv.v".as("v"))
    val g = kv.groupBy($"col_name", $"is_batch")
      .agg(P.cnt.as("n"),
        sum(when($"v".isNull, 1L).otherwise(0L)).as("nulls"),
        count_distinct($"v").as("dist"))
    // coalesce(…, 0) matches the oracle's SUM/COUNT semantics when one
    // side is empty (a single-day corpus has no base rows)
    val p = g.groupBy($"col_name").agg(
      coalesce(max(when(!$"is_batch", $"n")), lit(0L)).as("n_base"),
      coalesce(max(when($"is_batch", $"n")), lit(0L)).as("n_batch"),
      coalesce(max(when(!$"is_batch", $"nulls")), lit(0L)).as("bn"),
      coalesce(max(when($"is_batch", $"nulls")), lit(0L)).as("tn"),
      coalesce(max(when(!$"is_batch", $"dist")), lit(0L)).as("distinct_base"),
      coalesce(max(when($"is_batch", $"dist")), lit(0L)).as("distinct_batch"))
    p.select($"col_name", $"n_base", $"n_batch",
        $"distinct_base", $"distinct_batch",
        P.prnd($"bn" / $"n_base".cast("double"), 6).as("null_rate_base"),
        P.prnd($"tn" / $"n_batch".cast("double"), 6).as("null_rate_batch"),
        P.prnd(abs($"tn" / $"n_batch".cast("double")
          - $"bn" / $"n_base".cast("double")), 6).as("null_rate_delta"))
      .orderBy($"col_name")
  }

  /** Winsorization (p1/p99 robust clipping) of the event value — the
    * feature-normalization step that keeps a fat-tailed metric from
    * dominating downstream models or dashboards without DROPPING the
    * tail rows (clipping preserves row count; filtering changes join
    * cardinalities). Two passes, both scan-bound: one exact-percentile
    * aggregate for the bounds (1 row, broadcast; the 100 TB switch is
    * percentile_approx — same plan, sketch partials) and one narrow
    * clamp map with the clip verdict carried per row for auditability.
    * Bounds are prnd-rounded so the clamp decisions are engine-portable
    * at the boundary.
    */
  val winsorize = QueryDef(
    "etl_winsorize",
    s"""WITH ${PS.evCte},
       |b AS MATERIALIZED (SELECT ${PS.prnd("quantile_cont(value, 0.01)", 6)} AS lo,
       |  ${PS.prnd("quantile_cont(value, 0.99)", 6)} AS hi FROM ev)
       |SELECT event_id, value,
       |  least(greatest(value, (SELECT lo FROM b)), (SELECT hi FROM b)) AS value_w,
       |  CASE WHEN value < (SELECT lo FROM b) THEN 'low'
       |       WHEN value > (SELECT hi FROM b) THEN 'high'
       |       ELSE 'none' END AS clipped
       |FROM ev""".stripMargin) { (s, dir) =>
    import s.implicits._
    val b = Tables.events(s, dir)
      .agg(expr("percentile(value, array(0.01D, 0.99D))").as("ps"))
      .select(P.prnd($"ps".getItem(0), 6).as("lo"), P.prnd($"ps".getItem(1), 6).as("hi"))
    Tables.events(s, dir)
      .crossJoin(broadcast(b))
      .select($"event_id", $"value",
        least(greatest($"value", $"lo"), $"hi").as("value_w"),
        when($"value" < $"lo", "low")
          .when($"value" > $"hi", "high")
          .otherwise("none").as("clipped"))
  }

  /** Output shard count of the global shuffle — a deployment knob; 16
    * keeps every shard non-trivially occupied at sf0.01.
    */
  private val ShuffleShards = 16L

  /** Deterministic global corpus shuffle — the "shuffle the training
    * data" step every pre-training pipeline runs before packing, so a
    * sequential reader sees an i.i.d. stream instead of crawl order.
    * shard = md5(doc_id) % N is a pure narrow map (uniform across
    * shards, stable under corpus growth — a doc never migrates when new
    * docs arrive, unlike rand() or zipWithIndex); the within-shard read
    * order is the hash key itself. The plan is exactly the production
    * write path: ONE keyed exchange on shard + a per-shard sort — i.e.
    * `repartition(N, shard).sortWithinPartitions(hk)` — never a global
    * sort (no range-partitioner sampling pass, no skew: md5 is uniform
    * by construction). Emits the per-doc (shard, pos) placement, which
    * IS the shuffled read order a trainer consumes.
    */
  val shardShuffle = QueryDef(
    "etl_shard_shuffle",
    s"""WITH h AS MATERIALIZED (SELECT doc_id,
       |    ${PS.hexToLong("md5(CAST(doc_id AS VARCHAR))", 1, 15)} AS hk
       |  FROM documents)
       |SELECT doc_id, CAST(hk % $ShuffleShards AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY hk % $ShuffleShards
       |    ORDER BY hk, doc_id) AS BIGINT) AS pos
       |FROM h""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"shard").orderBy($"hk", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", P.hexToLong(md5($"doc_id".cast("string")), 1, 15).as("hk"))
      .withColumn("shard", $"hk" % ShuffleShards)
      .select($"doc_id", $"shard", row_number().over(w).cast("long").as("pos"))
  }

  /** Topical-relevance keyword domain — the corpus-membership lexicon of
    * the reference's scraper gate (scraper/kafka_producer.py:264-276
    * `_is_can_related` keeps a post iff any keyword appears in
    * title+selftext, lowercased). Same declared keyword domain as
    * an_keyword_mentions, so the mention dashboard and the membership
    * gate can never disagree about what "on-topic" means.
    */
  private val RelevanceKeywords = Seq("spark", "join", "merge", "stream", "vector")

  /** Keyword-relevance keep/drop per document WITH the decision reason —
    * the corpus-membership gate the reference applies at scrape time
    * (kafka_producer.py:264-276), surfaced as an auditable relation:
    * `reason` is `kw:<first matching keyword>` (the reference's
    * first-match-wins loop order) or `no_keyword`. Semantically stage 0
    * of [[corpusPrep]]'s funnel — membership before length/dup/quality.
    *
    * Scale shape: a pure narrow map (one lower() + K substring probes
    * per row, whole-stage codegen, no shuffle) — linear at 100 TB, like
    * every other per-row gate.
    */
  val relevanceGate = QueryDef(
    "etl_relevance_gate",
    s"""SELECT doc_id,
       |  (${RelevanceKeywords.map(k => s"contains(lower(text), '$k')").mkString(" OR ")}) AS keep,
       |  CASE ${RelevanceKeywords.map(k => s"WHEN contains(lower(text), '$k') THEN 'kw:$k'").mkString(" ")}
       |    ELSE 'no_keyword' END AS reason
       |FROM documents""".stripMargin) { (s, dir) =>
    import s.implicits._
    val lowered = lower($"text")
    val reason = RelevanceKeywords.tail
      .foldLeft(when(lowered.contains(RelevanceKeywords.head),
        s"kw:${RelevanceKeywords.head}")) { (c, k) =>
        c.when(lowered.contains(k), s"kw:$k")
      }
      .otherwise("no_keyword")
    Tables.documents(s, dir).select(
      $"doc_id",
      RelevanceKeywords.map(k => lowered.contains(k): org.apache.spark.sql.Column)
        .reduce(_ || _).as("keep"),
      reason.as("reason"))
  }

  /** Target sampling weight per language of the mixture schedule —
    * powers of two so the stride positions (rank / weight) are EXACT
    * doubles and the interleave order is bit-identical across engines.
    * "Upsample English 4×, German/French 2×" is the classic
    * multilingual-pretraining mixture shape.
    */
  private val MixtureWeights: Map[String, Int] =
    Map("en" -> 4, "de" -> 2, "fr" -> 2, "es" -> 1, "zh" -> 1)

  /** First-N window of the schedule the query materializes. */
  private val MixtureHead = 50

  /** Deterministic mixture schedule — the exact reading order a trainer
    * consumes the corpus in when each language has a target sampling
    * weight. Stride scheduling: the i-th document of language L is
    * placed at position i / w_L, and the global order by position
    * interleaves languages so EVERY prefix of the schedule matches the
    * target mixture (a shuffled-then-concatenated corpus only matches in
    * expectation; a curriculum needs the guarantee per batch). Completes
    * the training-data mechanics family: [[splitTrainVal]] decides
    * membership, [[shardShuffle]] decides placement, this decides ORDER.
    *
    * Scale shape: rank-within-language via the same two-level prefix
    * sum as [[packSequences]] — level 1 ranks inside bounded
    * (lang, doc_id-bucket) slices, level 2 offsets by per-bucket counts
    * (corpus/64 rows), so no task ever sorts a whole language. The
    * head-of-schedule report is a bounded TakeOrdered; the full
    * schedule is the same relation without the limit, written
    * sorted-by-position within shards.
    */
  val mixtureSchedule = QueryDef(
    "etl_mixture_schedule", {
      val wSql = s"(CASE ${MixtureWeights.map { case (l, w) => s"WHEN lang = '$l' THEN $w" }.mkString(" ")} ELSE 1 END)"
      s"""WITH r AS MATERIALIZED (SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS lang_rank
         |  FROM documents),
         |p AS MATERIALIZED (SELECT doc_id, lang, lang_rank,
         |    CAST(lang_rank AS DOUBLE) / $wSql AS pos
         |  FROM r)
         |SELECT CAST(row_number() OVER (ORDER BY pos, lang, doc_id) AS BIGINT) AS global_rank,
         |  doc_id, lang, lang_rank, pos
         |FROM p ORDER BY global_rank LIMIT $MixtureHead""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val t = Tables.documents(s, dir).select($"doc_id", $"lang")
      .withColumn("bkt", expr(s"doc_id div $PackBucketDocs"))
    // level 1: rank inside the bounded (lang, bucket) slice
    val w1 = Window.partitionBy($"lang", $"bkt").orderBy($"doc_id")
    val inb = t.withColumn("ir", row_number().over(w1).cast("long"))
    // level 2: offset = docs in the language's earlier buckets
    val w2 = Window.partitionBy($"lang").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = t.groupBy($"lang", $"bkt").agg(P.cnt.as("bc"))
      .withColumn("boff", coalesce(sum($"bc").over(w2), lit(0L)))
      .select($"lang", $"bkt", $"boff")
    val wcol = MixtureWeights.tail.foldLeft(
      when($"lang" === MixtureWeights.head._1, MixtureWeights.head._2.toDouble)) {
      case (c, (l, w)) => c.when($"lang" === l, w.toDouble)
    }.otherwise(1.0)
    val head = inb.join(boff, Seq("lang", "bkt"))
      .select($"doc_id", $"lang", ($"ir" + $"boff").as("lang_rank"))
      .withColumn("pos", $"lang_rank".cast("double") / wcol)
      .orderBy($"pos", $"lang", $"doc_id").limit(MixtureHead)
    // global_rank over the already-bounded head only (MixtureHead rows)
    val wg = Window.orderBy($"pos", $"lang", $"doc_id")
    head.withColumn("global_rank", row_number().over(wg).cast("long"))
      .select($"global_rank", $"doc_id", $"lang", $"lang_rank", $"pos")
      .orderBy($"global_rank")
  }

  val defs: Seq[QueryDef] = Seq(cleanText, filterEnrich, dedupIngest, parseJson,
    sessionize, stratifiedSample, corpusPrep, compactLatest, packSequences, scd2,
    weightedSample, chunkOverlap, splitTrainVal, shardShuffle, profileColumns,
    winsorize, relevanceGate, mixtureSchedule, profileDrift, packBpe)
}
