package graft.operators

import graft.Ckpt._
import graft.{QueryDef, Tables}
import graft.functions.{Portable => P, PortableSql => PS}
import org.apache.spark.sql.functions._

/** Pipeline-health / orchestration operators (SURVEY §2a tail).
  *
  * Reference semantics: the Airflow DAG's cross-stage stats + threshold
  * gates + final report
  * (airflow/dags/reddit_can_complete_pipeline.py:58-241 —
  * get_pipeline_stats counts each stage collection, check_ml_threshold /
  * check_network_threshold branch the DAG on minimum volumes,
  * generate_final_report derives ML coverage and volume
  * recommendations). Re-expressed as ONE declarative query an
  * orchestrator reads instead of five MongoDB count round-trips.
  */
object Ops {

  /** Run independent write actions concurrently from a small thread
    * pool (guide §2.6): Spark's scheduler runs several jobs at once
    * inside one application — actions are only sequential because the
    * driver calls them sequentially — so independent ingest writes into
    * DISJOINT directories back-fill executors freed by each other's
    * task tails instead of paying one full job barrier per write. Used
    * by the composed day/week arcs, whose per-day landing writes are
    * order-free (the day LOOP stays sequential: manifest diffs and gate
    * flips depend on the previous day's state). Threads inherit the
    * caller's job group (Spark's thread-locals are inheritable), so
    * Bench's watchdog cancellation still reaches these jobs.
    *
    * The first item to fail cancels the Spark jobs its siblings are
    * running, through a job tag unique to this call (a job group would
    * replace the caller's, which Bench's watchdog cancels by). Every
    * item still runs to completion before this returns or throws: a
    * failure never leaves a sibling write running behind the caller's
    * failure handling. The first failed item's cause (in `work` order,
    * a sibling's cancellation counting only when nothing else failed)
    * is rethrown, each other failure attached to it as suppressed.
    */
  private[graft] def inParallel(work: Seq[() => Unit]): Unit =
    if (work.lengthCompare(2) < 0) work.foreach(_())
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
      try {
        val futs = work.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.foreach(_.addJobTag(tag))
            try w()
            catch {
              case e: Throwable =>
                if (cancelled.compareAndSet(false, true))
                  sc.foreach(_.cancelJobsWithTag(tag, s"a sibling of $tag failed"))
                throw e
            } finally sc.foreach(_.removeJobTag(tag))
          }
        }))
        val failures = futs.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
        def byCancel(e: Throwable): Boolean =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(c => Option(c.getMessage).exists(_.contains(tag)))
        failures.find(!byCancel(_)).orElse(failures.headOption).foreach { first =>
          failures.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdownNow()
    }

  /** Reference `MIN_POSTS_FOR_ML`
    * (reddit_can_complete_pipeline.py:37). */
  private val MinDocsForMl = 50L

  /** Reference `MIN_USERS_FOR_NETWORK`
    * (reddit_can_complete_pipeline.py:38). */
  private val MinUsersForNetwork = 30L

  /** One-row pipeline run report: per-stage row counts (raw docs,
    * events, processed docs, sentiment-scored docs, unique users), the
    * ML-coverage percentage, the two threshold gates, the overall
    * go/no-go, and the reference report's volume recommendation.
    *
    * Stage mapping onto graft's tables: `posts` → documents rows,
    * `comments` → events rows, `processed_posts` → docs passing the
    * enrichment text gate (length > 5, etl_filter_enrich's has_text),
    * `sentiment_results` → docs the shared VADER labeler scores
    * NON-neutral (the classified output a dashboard reports — counted
    * off [[Sentiment.labeledShared]], so the report can never disagree
    * with the sentiment stage itself), `unique_users` → exact distinct
    * user_id over events.
    *
    * Scale shape: three independent scalar aggregates (documents scan
    * with a conditional count, labeled-corpus scan, events scan with a
    * two-phase exact distinct) cross-joined as broadcast 1-row
    * relations — no data-scaling join anywhere, and each input is
    * scanned exactly once. The gate thresholds are the reference's
    * constants; coverage divides only when processed > 0 (both engines
    * return NULL on an empty pipeline, not a fake 0).
    */
  val pipelineReport = QueryDef(
    "ops_pipeline_report",
    s"""WITH ${Sentiment.labeledSharedCte("pr")},
       |dstat AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) FILTER (WHERE length(text) > 5) AS BIGINT) AS n_processed
       |  FROM documents),
       |sstat AS MATERIALIZED (SELECT
       |    CAST(COUNT(*) FILTER (WHERE label <> 'neutral') AS BIGINT) AS n_scored
       |  FROM prl),
       |estat AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events)
       |SELECT n_docs, n_events, n_processed, n_scored, n_users,
       |  CASE WHEN n_processed = 0 THEN NULL
       |    ELSE ${PS.prnd("n_scored * 100.0 / n_processed", 6)} END AS coverage_pct,
       |  n_processed >= $MinDocsForMl AS ml_gate,
       |  n_users >= $MinUsersForNetwork AS network_gate,
       |  (n_processed >= $MinDocsForMl AND n_users >= $MinUsersForNetwork) AS go,
       |  CASE WHEN n_docs < 100 THEN 'expand_sources'
       |       WHEN n_scored < 50 THEN 'increase_frequency'
       |       WHEN n_users < 50 THEN 'diversify_users'
       |       WHEN n_docs >= 300 AND n_users >= 100 THEN 'volume_excellent'
       |       ELSE 'ok' END AS recommendation
       |FROM dstat, sstat, estat""".stripMargin) { (s, dir) =>
    import s.implicits._
    val dstat = Tables.documents(s, dir).agg(
      P.cnt.as("n_docs"),
      count(when(length($"text") > 5, 1)).as("n_processed"))
    val sstat = Sentiment.labeledShared(s, dir)
      .agg(count(when($"label" =!= "neutral", 1)).as("n_scored"))
    val estat = Tables.events(s, dir).agg(
      P.cnt.as("n_events"),
      count_distinct($"user_id").as("n_users"))
    dstat.crossJoin(broadcast(sstat)).crossJoin(broadcast(estat))
      .select($"n_docs", $"n_events", $"n_processed", $"n_scored", $"n_users",
        when($"n_processed" === 0, lit(null).cast("double"))
          .otherwise(P.prnd($"n_scored" * 100.0 / $"n_processed", 6))
          .as("coverage_pct"),
        ($"n_processed" >= MinDocsForMl).as("ml_gate"),
        ($"n_users" >= MinUsersForNetwork).as("network_gate"),
        ($"n_processed" >= MinDocsForMl && $"n_users" >= MinUsersForNetwork)
          .as("go"),
        when($"n_docs" < 100, "expand_sources")
          .when($"n_scored" < 50, "increase_frequency")
          .when($"n_users" < 50, "diversify_users")
          .when($"n_docs" >= 300 && $"n_users" >= 100, "volume_excellent")
          .otherwise("ok").as("recommendation"))
  }

  /** Staleness horizon of the freshness report, in hours. */
  private val StaleHours = 6L

  /** Per-stream freshness / lag report — the other half of the
    * orchestrator panel next to [[pipelineReport]]'s volumes: per event
    * type, the last-seen event time and its lag behind the corpus
    * high-water mark, with a staleness flag at [[StaleHours]]. A dead
    * upstream producer (the reference's scraper or one Kafka topic
    * partition going quiet) shows up here hours before volume gates
    * trip. Deterministic by construction: lag is measured against the
    * corpus max — the ingest high-water mark — never wall-clock `now()`,
    * so the report is reproducible and engine-portable (exact integer
    * microseconds end to end).
    *
    * Scale shape: one map-side-combined (type, max, count) aggregate
    * over the events scan plus a 1-row high-water broadcast.
    */
  val freshness = QueryDef(
    "ops_freshness",
    s"""WITH ${PS.evCte},
       |t AS MATERIALIZED (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us FROM ev GROUP BY 1),
       |m AS MATERIALIZED (SELECT CAST(MAX(last_us) AS BIGINT) AS hwm FROM t)
       |SELECT event_type, n_events, last_us,
       |  CAST(m.hwm - last_us AS BIGINT) AS lag_us,
       |  (m.hwm - last_us) > ${StaleHours * 3600L * 1000000L} AS stale
       |FROM t CROSS JOIN m ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    // t feeds both the high-water mark and the report rows — checkpoint,
    // not recompute (a |types|-row relation)
    val t = Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(P.cnt.as("n_events"), max(unix_micros($"ts")).as("last_us"))
      .ckpt
    val m = t.agg(max($"last_us").as("hwm"))
    t.crossJoin(broadcast(m))
      .select($"event_type", $"n_events", $"last_us",
        ($"hwm" - $"last_us").as("lag_us"),
        ($"hwm" - $"last_us" > StaleHours * 3600L * 1000000L).as("stale"))
      .orderBy($"event_type")
  }

  /** Per-table minimum row counts of the infra gate: dimension tables
    * must be non-empty, fact/corpus tables must carry at least a token
    * volume (an accidentally-truncated drop of a 100 TB feed still
    * passes a ≥1 check; it does not pass ≥10).
    */
  private val TableFloors: Seq[(String, Long)] = Seq(
    "region" -> 1L, "nation" -> 1L, "supplier" -> 1L, "part" -> 1L,
    "customer" -> 10L, "orders" -> 10L, "lineitem" -> 10L,
    "events" -> 10L, "documents" -> 10L, "embeddings" -> 10L)

  /** Minimum calendar coverage (days) the temporal feed must span. */
  private val MinSpanDays = 7L

  /** Infrastructure go/no-go gate — the DAG's `check_infrastructure`
    * pre-flight (reddit_can_complete_pipeline.py:44-57 pings MongoDB and
    * Kafka before any stage runs) re-expressed for a batch corpus: per
    * table, READABILITY (the scan itself — an unreadable or missing
    * table fails the query, which IS the ping), a row-count floor, and
    * for the temporal feed the calendar span behind the ingest
    * high-water mark ([[MinSpanDays]] — a feed that "works" but only
    * carries yesterday's partial day must not green-light a month-scale
    * analysis). One row per table plus the composite `go` every row
    * carries — the single relation an orchestrator branches on.
    *
    * Scale shape: one scalar aggregate per table (each input scanned
    * once, count-only so parquet row-group metadata serves most of it)
    * unioned into a |tables|-row relation, then a 1-row bool_and
    * broadcast. Deterministic: span is measured inside the data (max −
    * min event date), never wall-clock now().
    */
  val infraGate = QueryDef(
    "ops_infra_gate",
    s"""WITH ${PS.evCte},
       |c AS MATERIALIZED (
       |  ${TableFloors.map { case (t, f) =>
              if (t == "events")
                s"SELECT 'events' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST($f AS BIGINT) AS row_floor, " +
                  "CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days FROM ev"
              else
                s"SELECT '$t' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST($f AS BIGINT) AS row_floor, CAST(NULL AS BIGINT) AS span_days FROM $t"
            }.mkString("\n  |  UNION ALL ")}),
       |g AS MATERIALIZED (SELECT tbl, n_rows, row_floor,
       |    n_rows >= row_floor AS rows_ok, span_days,
       |    (span_days IS NULL OR span_days >= $MinSpanDays) AS span_ok,
       |    (n_rows >= row_floor AND (span_days IS NULL OR span_days >= $MinSpanDays)) AS ok
       |  FROM c),
       |a AS MATERIALIZED (SELECT bool_and(ok) AS go FROM g)
       |SELECT tbl, n_rows, row_floor, rows_ok, span_days, span_ok, ok, go
       |FROM g CROSS JOIN a ORDER BY tbl""".stripMargin) { (s, dir) =>
    import s.implicits._
    val stats = TableFloors.map { case (t, f) =>
      if (t == "events")
        Tables.events(s, dir).agg(P.cnt.as("n_rows"),
            (datediff(max($"ts".cast("date")), min($"ts".cast("date"))) + 1)
              .cast("long").as("span_days"))
          .select(lit(t).as("tbl"), $"n_rows", lit(f).as("row_floor"), $"span_days")
      else
        Tables.load(s, dir, t).agg(P.cnt.as("n_rows"))
          .select(lit(t).as("tbl"), $"n_rows", lit(f).as("row_floor"),
            lit(null).cast("long").as("span_days"))
    }
    // g feeds both the report rows and the composite bool_and — a
    // |tables|-row relation, checkpointed instead of re-unioning ten
    // scalar aggregates per consumer
    val g = stats.reduce(_ union _)
      .select($"tbl", $"n_rows", $"row_floor",
        ($"n_rows" >= $"row_floor").as("rows_ok"), $"span_days",
        ($"span_days".isNull || $"span_days" >= MinSpanDays).as("span_ok"),
        (($"n_rows" >= $"row_floor") &&
          ($"span_days".isNull || $"span_days" >= MinSpanDays)).as("ok"))
      .ckpt
    val a = g.agg(bool_and($"ok").as("go"))
    g.crossJoin(broadcast(a)).orderBy($"tbl")
  }

  /** One (session, corpus)-keyed tmp location for the gates' mutable
    * working state — shared by [[incGateCorpusDir]] and
    * [[lifecycleStoreDir]] so the keying scheme cannot drift apart.
    */
  private[operators] def sessionCorpusTmpDir(s: org.apache.spark.sql.SparkSession,
      dir: String, prefix: String, leaf: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val sess = Integer.toHexString(System.identityHashCode(s))
    s"${System.getProperty("java.io.tmpdir")}/${prefix}_${sess}_$digest/$leaf"
  }

  /** The gate's working corpus location — keyed on the SESSION as well
    * as the corpus (two sessions in one JVM, e.g. spec + bench, must
    * not clobber each other's in-flight lifecycle: the gate mutates the
    * filesystem, so the 'benign race, loser discarded' contract of pure
    * builds does not apply), and DERIVED rather than
    * random so the quiet-day spec can re-snapshot the same corpus the
    * gate wrote. Shared with SourcesSpec through this one definition.
    */
  private[graft] def incGateCorpusDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_inc_gate", "corpus")

  /** End-to-end incremental-ingest gate — the 100 TB daily-operations
    * story proved as ONE oracled query (r13 verdict item 2): a day-0
    * base corpus snapshot lands as parquet files, the day-1 batch files
    * arrive, and the query processes ONLY the files
    * [[graft.sources.CorpusIO.manifestDiff]] schedules — the base is
    * never re-read for signatures — then emits the same per-batch-doc
    * verdicts as `dd_incremental`. The ORACLE is the full-recompute
    * semantics (`dd_incremental`'s own SQL twin over the raw documents
    * table), so the hash match IS the proof that the file-level
    * incremental path equals the full recompute.
    *
    * In the order a daily pipeline runs them:
    *  1. day 0: base docs (doc_id < IncSplit) written to a working
    *     corpus dir; [[graft.sources.CorpusIO.manifest]] snapshots it
    *     (the file list is captured eagerly at snapshot time, so the
    *     later append cannot leak into the old snapshot);
    *  2. day 1: the batch appended — new parquet files, same dir;
    *  3. work list = manifestDiff added/changed files, collected on the
    *     driver — a deliberate driver action of MANIFEST scale (a file
    *     list, the artifact an orchestrator holds anyway; never data).
    *     Guards assert the list is non-empty and that no unchanged
    *     day-0 file was scheduled for reprocessing;
    *  4. batch signatures are computed from the work-list files alone
    *     ([[Dedup.bandsOfDocs]]) and probe the shared base signature
    *     store (MatStore `dd_bands`, base half) — batch×base, never
    *     base×base. In serve mode the probe reads the PUBLISHED
    *     bucketed store, so the full composition (manifest diff →
    *     batch-only processing → durable-store probe) is exactly what
    *     the serve-mode CORRECTNESS replica executes;
    *  5. candidates verify by exact 3-gram Jaccard per pair
    *     ([[Dedup.jaccardVerify]]: batch tokens from the work-list read,
    *     base tokens from the shared token memo); exact dups by md5
    *     against the base corpus.
    */
  val incrementalGate = QueryDef(
    "ops_incremental_gate",
    Dedup.incremental.oracle.get) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // The INGEST-DAY lifecycle — write day 0, snapshot, append day 1,
    // snapshot, derive the work list, read ONLY those files — runs every
    // time the query runs: the gate proves the arc, so the arc is what a
    // run pays (~6 driver jobs of scale-invariant latency at bench SF;
    // the paired oracle runs only the probe math).
    val batch = {
      val corpus = incGateCorpusDir(s, dir)
      val work = new java.io.File(corpus).getParent
      val root = new org.apache.hadoop.fs.Path(work)
      val hfs = root.getFileSystem(s.sessionState.newHadoopConf())
      if (hfs.exists(root)) hfs.delete(root, true)
      // file counts sized to the DATA, not the session parallelism: a
      // 32-thread session writing a day's corpus as 32 near-empty files
      // would make every later step (manifest footer reads, the
      // work-list read) pay per-file open cost for nothing — the
      // small-files anti-pattern compactFiles exists to repair
      docs.filter($"doc_id" < Dedup.IncSplit).coalesce(4)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(corpus)
      val prev = graft.sources.CorpusIO.manifest(s, corpus)
      // the day-1 batch lands with an ADDED nullable column (r15 verdict
      // item 4) — the compatible schema evolution a real daily feed
      // eventually performs. The guard must ACCEPT the additive day
      // (schemaGuard's additive rule; before r16 this write would have
      // been refused as divergent), and the pipeline below ignores the
      // extra column, so the gate stays hash-equal to the full-recompute
      // oracle — the acceptance is exercised on the oracled path itself.
      // `when` without otherwise keeps the column NULLABLE — a plain
      // lit() would write a parquet REQUIRED field, which the additive
      // rule rightly refuses (old files cannot null-fill a required
      // column)
      docs.filter($"doc_id" >= Dedup.IncSplit)
        .withColumn("ingest_day", when($"doc_id".isNotNull, lit("day1")))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(corpus)
      val cur = graft.sources.CorpusIO.manifest(s, corpus)
      // ONE driver action materializes the whole diff (manifest-scale —
      // a file list): the work list AND the base-integrity guard both
      // read the same collected rows, so each snapshot's footer pass
      // runs exactly once inside the diff join
      val diff = graft.sources.CorpusIO.manifestDiff(prev, cur).collect()
      val workList = diff.filter(r => Set("added", "changed")
          .contains(r.getAs[String]("status")))
        .map(_.getAs[String]("file")).sorted
      require(workList.nonEmpty, "batch day produced no work-list files")
      // the schema-evolution guard (r14 verdict item 4): a batch file
      // whose footer schema diverges from the base corpus — or a base
      // file rewritten with a new schema — is refused HERE, before
      // bandsOfDocs would null-fill or fail late on it
      graft.sources.CorpusIO.schemaGuard(diff.toIndexedSeq)
      // the incremental guarantee: day 0's files must all read back
      // unchanged — a 'changed'/'removed'/'schema_changed'/
      // 'schema_added_col' base file means something rewrote the
      // immutable corpus under us (the additive class is a COMPATIBLE
      // schema, but a rewritten base file is staleness regardless —
      // schemaGuard deliberately leaves that refusal to this check)
      require(!diff.exists(r => Set("changed", "removed", "schema_changed",
          "schema_added_col").contains(r.getAs[String]("status"))),
        "manifestDiff scheduled a base file for reprocessing")
      // the returned relation is the work-list read itself, checkpointed
      // because four consumers read it (signatures, verify tokens, the
      // exact-dup hash and the final id list all ride the same blocks)
      s.read.parquet(workList.map(f => s"$corpus/$f").toIndexedSeq: _*).ckpt
    }
    // batch signatures from the work-list files, read once by the probe
    val bandsB = Dedup.bandsOfDocs(batch)
      .select($"doc_id".as("b_id"), $"band", $"bkey")
    val baseBands = Dedup.minhashBands(s, dir)
      .filter($"doc_id" < Dedup.IncSplit)
      .select($"doc_id".as("base_id"), $"band", $"bkey")
    val pairs = bandsB.join(baseBands, Seq("band", "bkey"))
      .select($"b_id", $"base_id").distinct()
    val nearp = Dedup.jaccardVerify(pairs, Dedup.tokenizedOf(batch),
        Dedup.tokenizedM(s, dir).filter($"doc_id" < Dedup.IncSplit))
      .filter($"jac" >= Dedup.JaccardThreshold)
    val bex = batch.select($"doc_id".as("b_id"), md5($"text").as("h"))
      .join(docs.filter($"doc_id" < Dedup.IncSplit)
        .select($"doc_id".as("a_id"), md5($"text").as("h")), "h")
      .groupBy($"b_id").agg(min($"a_id").as("e_dup"))
    val bnr = nearp.groupBy($"b_id").agg(min($"base_id").as("n_dup"))
    batch.select($"doc_id")
      .join(bex.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .join(bnr.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"e_dup".isNotNull, "drop_exact")
          .when($"n_dup".isNotNull, "drop_near")
          .otherwise("keep").as("verdict"),
        coalesce($"e_dup", $"n_dup").as("dup_of"))
  }

  /** The lifecycle gate's working store location — session- and
    * corpus-keyed like [[incGateCorpusDir]] (the build mutates the
    * filesystem, so two sessions in one JVM must not clobber each
    * other), and derived rather than random so the spec can inspect
    * the exact store the query wrote.
    */
  private[graft] def lifecycleStoreDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_store_lc", "store")

  /** End-to-end STORE-LIFECYCLE gate (r14 verdict item 3) — the full
    * maintenance arc of a durable artifact proved as ONE oracled query,
    * the way [[incrementalGate]] proved the ingest arc: the base
    * corpus's LSH signatures are PUBLISHED to a bucketed store, the
    * arriving batch's signatures are APPENDED (the daily-ingest write),
    * the grown store is COMPACTED (bucket-aware blue/green rewrite),
    * and the candidate pairs are computed from the SERVED post-compact
    * table. The ORACLE is the fresh full-corpus build
    * (`dd_minhash_lsh`'s own SQL twin), so the hash match IS the proof
    * that publish→append→compact→serve loses and invents nothing — the
    * lifecycle a 100 TB signature store actually lives through between
    * full rebuilds.
    *
    * The store lives in a derived per-(session, corpus) directory; the
    * store conf is swapped in for the build and restored after
    * (serve-mode replicas keep their own store untouched — the
    * lifecycle key is namespaced `lc_`). Like the ingest gate, every
    * run re-executes publish + append + compact + serve — ~10
    * driver-scheduled jobs plus filesystem renames of scale-invariant
    * latency, while the paired oracle runs only the candidate SQL; the
    * 5× scale trend (1.52×, SCALETREND_r15) shows the cost is fixed
    * maintenance latency, not data-scaling work.
    */
  val storeLifecycle = QueryDef(
    "ops_store_lifecycle",
    Dedup.minhashLsh.oracle.get) { (s, dir) =>
    import s.implicits._
    val served = {
      val store = lifecycleStoreDir(s, dir)
      val root = new org.apache.hadoop.fs.Path(
        new java.io.File(store).getParent)
      val hfs = root.getFileSystem(s.sessionState.newHadoopConf())
      if (hfs.exists(root)) hfs.delete(root, true)
      val prev = s.conf.get(graft.sources.IndexStore.DirConf, null)
      s.conf.set(graft.sources.IndexStore.DirConf, store)
      try {
        val bands = Dedup.minhashBands(s, dir)
        val key = s"lc_bands:$dir"
        // day 0: the base half is the published store
        graft.sources.IndexStore.publish(s, key,
          bands.filter($"doc_id" < Dedup.IncSplit), "bkey")
        // day 1: the batch half lands via the append path (one extra
        // file set per bucket — the growth compact exists to repair)
        graft.sources.IndexStore.append(s, key,
          bands.filter($"doc_id" >= Dedup.IncSplit))
        val (before, after) = graft.sources.IndexStore.compact(s, key)
        require(after <= before,
          s"compaction must not grow the file count ($before -> $after)")
        graft.sources.IndexStore.tryServe(s, key).getOrElse(
          throw new IllegalStateException(
            "lifecycle store refused to serve post-compact"))
      } finally {
        if (prev == null) s.conf.unset(graft.sources.IndexStore.DirConf)
        else s.conf.set(graft.sources.IndexStore.DirConf, prev)
      }
    }
    // candidate generation straight off the served table — the same
    // salted-cap path production probes, so base+batch through the
    // store must equal the fresh full-corpus signature build
    Dedup.lshCandidates(served).orderBy($"doc_a", $"doc_b")
  }

  /** The graph-ingest gate's working store location — keyed like
    * [[lifecycleStoreDir]].
    */
  private[graft] def graphIngestStoreDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_graph_ing", "store")

  /** Incremental GRAPH maintenance gate (r15 verdict item 5) — the graph
    * family's [[incrementalGate]]/`dd_incremental` twin: every graph
    * artifact was train-once on a static corpus, while the reference's
    * pipeline re-scrapes daily (airflow/dags/
    * reddit_can_complete_pipeline.py) and keeps growing its edge set.
    * This gate proves the daily-edge-ingest arc end to end as ONE
    * oracled query: the base edge relation (edges whose src key falls
    * outside the planted day-1 slice) is PUBLISHED to a bucketed store,
    * the day-1 edge batch lands via [[graft.sources.IndexStore.append]]
    * (the daily write — batch rows only pay the bucket shuffle), and
    * PageRank is recomputed from the SERVED base+batch relation. The
    * ORACLE is the full-rebuild semantics (`gr_pagerank`'s own SQL twin
    * over the raw tables), so the hash match IS the proof that
    * publish→append→serve loses and invents no edges — and that an
    * iterative consumer over the appended store equals the fresh build.
    * (The companion DurableIndexSpec case proves the same for
    * community labels, and that the post-append probe join stays
    * exchange-free.)
    *
    * Store/conf handling follows [[storeLifecycle]], and every run
    * re-executes the publish/append arc; the served relation is
    * wrapped in [[GraphOps.iterRelation]] so the 10 PageRank rounds
    * iterate over the node-partitioned cache exactly like the
    * production path.
    */
  val graphIngest = QueryDef(
    "ops_graph_ingest",
    GraphOps.grPagerank.oracle.get) { (s, dir) =>
    import s.implicits._
    val und = {
      val store = graphIngestStoreDir(s, dir)
      val root = new org.apache.hadoop.fs.Path(
        new java.io.File(store).getParent)
      val hfs = root.getFileSystem(s.sessionState.newHadoopConf())
      if (hfs.exists(root)) hfs.delete(root, true)
      val prev = s.conf.get(graft.sources.IndexStore.DirConf, null)
      s.conf.set(graft.sources.IndexStore.DirConf, store)
      try {
        val e = GraphOps.edgesNum(s, dir)
        val key = s"gi_edges:$dir"
        // day 0: the base edge relation (≈3/4 of the customer keys)
        val batchCond = $"src" % 8 === 0
        graft.sources.IndexStore.publish(s, key, e.filter(!batchCond), "src")
        // day 1: the arriving customers' edges land via the append path
        graft.sources.IndexStore.append(s, key, e.filter(batchCond))
        val served = graft.sources.IndexStore.tryServe(s, key).getOrElse(
          throw new IllegalStateException(
            "graph-ingest store refused to serve post-append"))
        GraphOps.iterRelation(GraphOps.undirected(served))
      } finally {
        if (prev == null) s.conf.unset(graft.sources.IndexStore.DirConf)
        else s.conf.set(graft.sources.IndexStore.DirConf, prev)
      }
    }
    GraphOps.pagerank(und)
      .select(GraphOps.fmtNode($"node").as("node"),
        P.prnd($"r", 8).as("pagerank"))
      .orderBy($"node")
  }

  /** Retrain decision thresholds (r17 verdict item 5): a label's batch
    * centroid must stay within cos ≥ [[RetrainCosMin]] of its base
    * centroid for the trained k-means/IVF artifacts to keep serving,
    * and the arriving batch may be at most [[RetrainShareMax]] of the
    * post-append corpus before cell balance is re-fit regardless of
    * direction. Declared constants — the decision layer over
    * `sim_centroid_drift`'s measured numbers.
    */
  private val RetrainCosMin = 0.9
  private val RetrainShareMax = 0.3

  /** The serve-vs-retrain decision over arbitrary drift rows (label,
    * n_base, n_batch, centroid_cos) — factored so the planted spec can
    * flip the decision with constructed batches. Reason precedence is
    * declared: new_label first (a batch-only label has NO base centroid
    * to compare — the trained artifacts have never seen its region, the
    * r18-review blind spot), then centroid_drift, then batch_share,
    * else within_thresholds (a base-only label with an empty batch has
    * nothing arriving to retrain on and keeps serving).
    */
  private[graft] def retrainDecision(drift: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = drift.sparkSession
    import s.implicits._
    val g = drift.select($"label", $"n_base", $"n_batch", $"centroid_cos",
        P.prnd($"n_batch".cast("double") / ($"n_base" + $"n_batch"), 6)
          .as("batch_share"))
      .select($"*",
        when($"n_base" === 0, "new_label")
          .when($"centroid_cos" < RetrainCosMin, "centroid_drift")
          .when($"batch_share" > RetrainShareMax, "batch_share")
          .otherwise("within_thresholds").as("reason"))
      .ckpt
    val ov = g.agg(
      when(sum(when($"reason" =!= "within_thresholds", 1).otherwise(0)) > 0,
        "retrain").otherwise("serve").as("overall_decision"))
    g.select($"label", $"n_base", $"n_batch", $"centroid_cos", $"batch_share",
        when($"reason" === "within_thresholds", "serve").otherwise("retrain")
          .as("decision"),
        $"reason")
      .crossJoin(broadcast(ov))
      .orderBy($"label")
  }

  /** Index-maintenance decision gate (r17 verdict item 5) — the missing
    * ops leg of the train-once discipline: [[graft.sources.IndexStore]]
    * guards staleness/schema/version, but nothing decided WHEN the
    * trained k-means centroids are stale on DRIFT. This gate composes
    * `sim_centroid_drift`'s per-label base-vs-batch centroid cosine
    * (the shared [[Similarity.centroidDriftRows]] — monitor and gate
    * can never disagree) with the declared thresholds into a per-label
    * serve/retrain decision plus reason, and an overall decision (any
    * label retraining ⇒ the artifact set retrains as one — cells are
    * fit jointly).
    *
    * On THIS corpus every label reads `centroid_drift` (measured
    * centroid_cos ∈ [−0.19, 0.21] across SFs: the synthetic batch is
    * genuinely uncorrelated with the base, exactly the condition the
    * gate exists to catch), so the corpus verdict is retrain — the
    * planted spec flips the decision both ways (an aligned batch
    * serves, a rotated or oversized batch retrains).
    *
    * Scale shape: the drift rows are two (label, dim)-keyed means over
    * the shared exploded coordinates plus constant-width joins; the
    * decision layer is a labels-sized projection with one 1-row
    * overall broadcast.
    */
  /** Oracle CTE fragment rg/rgd/rgo (the decision layer over `cdr`) —
    * shared by `ops_retrain_gate` and `ops_day` (r18).
    */
  private def retrainSqlPref(p: String, cdr: String): String =
    s"""${p}rg AS MATERIALIZED (SELECT label, n_base, n_batch, centroid_cos,
       |    ${PS.prnd("CAST(n_batch AS DOUBLE) / (n_base + n_batch)", 6)} AS batch_share
       |  FROM $cdr),
       |${p}rgd AS MATERIALIZED (SELECT *,
       |    CASE WHEN n_base = 0 THEN 'new_label'
       |         WHEN centroid_cos < $RetrainCosMin THEN 'centroid_drift'
       |         WHEN batch_share > $RetrainShareMax THEN 'batch_share'
       |         ELSE 'within_thresholds' END AS reason
       |  FROM ${p}rg),
       |${p}rgo AS MATERIALIZED (SELECT CASE WHEN SUM(CASE WHEN reason <> 'within_thresholds'
       |      THEN 1 ELSE 0 END) > 0 THEN 'retrain' ELSE 'serve' END AS overall_decision
       |  FROM ${p}rgd)""".stripMargin

  private def retrainSql: String = retrainSqlPref("", "cdr")

  val retrainGate = QueryDef(
    "ops_retrain_gate",
    s"""WITH ${Similarity.centroidDriftSql},
       |$retrainSql
       |SELECT label, n_base, n_batch, centroid_cos, batch_share,
       |  CASE WHEN reason = 'within_thresholds' THEN 'serve' ELSE 'retrain' END AS decision,
       |  reason, overall_decision
       |FROM rgd CROSS JOIN rgo ORDER BY label""".stripMargin) { (s, dir) =>
    retrainDecision(Similarity.centroidDriftRows(s, dir))
  }

  /** Engine-portable relation digest: row count + a bounded integer
    * checksum (Σ of 32-bit md5 prefixes of a per-row key string, summed
    * exactly in DECIMAL(38,0), folded mod 1e9+7 to a BIGINT). Order-
    * independent, overflow-free in both engines — the equality primitive
    * `ops_day` pins each composed component with.
    */
  private def dig(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, tag: String): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    df.agg(P.cnt.as("n_rows"),
        (coalesce(sum(P.hexToLong(md5(key), 1, 8).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))) % lit(1000000007L)).cast("long")
          .as("checksum"))
      .select(lit(tag).as("component"), $"n_rows", $"checksum")
  }

  /** [[dig]]'s SQL twin over a relation text (CTE name or subquery). */
  private def digSql(tag: String, rel: String, keyExpr: String): String =
    s"""SELECT '$tag' AS component, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COALESCE(SUM(CAST(${PS.hexToLong(s"md5($keyExpr)", 1, 8)} AS DECIMAL(38,0))), 0) % 1000000007 AS BIGINT) AS checksum
       |FROM $rel t""".stripMargin

  /** The day's k-means ACTION under the gate's verdict: retrain → full
    * refit from the day corpus, published and served, with the FULL
    * reassignment published fresh; serve → the day-0 centroids
    * republished under the serving key AND the day's arriving vectors
    * assigned to those frozen centroids and APPENDED into the
    * cell-bucketed assignment store (`sim_ivf_append`'s machinery —
    * before r19 the serve branch republished day-0 and silently DROPPED
    * the day's vectors from the index). Returns (served centroids,
    * served assignment). Factored (r18) so the spec can drive BOTH
    * branches — the serve branch is dead on this corpus (the gate
    * always measures drift), and an untested dead branch in a composed
    * gate is exactly where a latent wiring bug hides; the spec proves
    * serve-branch probe results equal a full rebuild with frozen
    * centroids.
    */
  private[graft] def dayKmAction(s: org.apache.spark.sql.SparkSession,
      retrain: Boolean, dayEmb: org.apache.spark.sql.DataFrame,
      arrivals: org.apache.spark.sql.DataFrame,
      k0: String, kServe: String, kAf0: String, kAfRt: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    graft.sources.IndexStore.publish(s, kServe,
      if (retrain) Similarity.kmeansFitOver(dayEmb)
      else graft.sources.IndexStore.tryServe(s, k0).getOrElse(
        throw new IllegalStateException("day-0 centroid store refused to serve")),
      "cell")
    val cents = graft.sources.IndexStore.tryServe(s, kServe).getOrElse(
      throw new IllegalStateException("day k-means store refused to serve"))
    val assign =
      if (retrain) {
        // refit: the whole day corpus is reassigned to the NEW centroids
        // and published fresh (blue/green — the day-0 assignment store
        // stays intact for rollback)
        graft.sources.IndexStore.publish(s, kAfRt,
          Similarity.kmAssignRowsOf(dayEmb, cents), "cell")
        graft.sources.IndexStore.tryServe(s, kAfRt).getOrElse(
          throw new IllegalStateException(
            "refit assignment store refused to serve"))
      } else {
        // serve: arrivals enter the index under the FROZEN centroids —
        // the incremental append path, batch rows pay the bucket
        // shuffle only
        graft.sources.IndexStore.append(s, kAf0,
          Similarity.kmAssignRowsOf(arrivals, cents))
        graft.sources.IndexStore.tryServe(s, kAf0).getOrElse(
          throw new IllegalStateException(
            "appended assignment store refused to serve"))
      }
    (cents, assign)
  }

  private[graft] def opsDayRootDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_ops_day", "day")

  private[graft] def opsDayStoreDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_ops_day", "store")

  /** ONE ingest day across ALL THREE durable stores (r17 verdict item 8,
    * the stretch) — the composed version of [[incrementalGate]] /
    * [[storeLifecycle]] / [[graphIngest]] and the closest in-sandbox
    * analog of the reference's full DAG run
    * (airflow/dags/reddit_can_complete_pipeline.py:310-487):
    *
    *  1. day 0: the base slices of documents, embeddings and edges land
    *     as parquet files in one day tree; each input's manifest is
    *     snapshotted; the signature store (base LSH bands, bucketed on
    *     bkey), the graph store (base edges, bucketed on src) and the
    *     day-0 k-means centroids are PUBLISHED;
    *  2. day 1: the batch files land (docs ≥ IncSplit, vectors ≥ the
    *     drift split, the src%8 customer-edge slice);
    *  3. ONE manifestDiff work list across the three inputs (a driver
    *     action of manifest scale), with the incremental-gate guards:
    *     schema evolution checked, no base file rescheduled, no empty
    *     batch;
    *  4. each store ingests ONLY its work-list files: bands of the batch
    *     docs APPEND into the signature store (then compact, then
    *     serve), the batch edges APPEND into the graph store, and the
    *     arriving vectors run the [[retrainGate]] decision — on this
    *     corpus the gate measures centroid_drift for every label at
    *     every SF, so the day's k-means action is the commanded full
    *     REFIT (from the day tree's files), published and served;
    *  5. the report digests every composed output — the served-store
    *     candidate pairs, the served-graph PageRank, the served
    *     centroids, the decision rows, and the three work-list reads —
    *     and the ORACLE computes the same digests from the FULL-REBUILD
    *     semantics (`dd_minhash_lsh`'s, `gr_pagerank`'s and
    *     `sim_kmeans_train`'s own chains over the raw tables), so the
    *     hash match IS the proof that the one-work-list day loses and
    *     invents nothing in any of the three stores.
    *
    * Store/conf handling follows [[storeLifecycle]], and every run
    * re-executes the whole day; the decision read is a 1-row driver
    * action (the `gr_louvain` meta-read class).
    */
  val dayReport = QueryDef(
    "ops_day", {
      val decRel = "(SELECT label, reason, overall_decision FROM rgd CROSS JOIN rgo)"
      s"""WITH ${Dedup.lshSql},
         |${GraphOps.pagerankSqlChain},
         |${Similarity.kmSql},
         |kcx AS MATERIALIZED (SELECT cell, generate_subscripts(c, 1) AS j, unnest(c) AS x
         |  FROM kc${Similarity.KmIters}),
         |${Similarity.centroidDriftSql},
         |$retrainSql,
         |dayrep AS MATERIALIZED (
         |  ${digSql("dedup_pairs", "lsh_cand",
              "CAST(doc_a AS VARCHAR) || ':' || CAST(doc_b AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("kmeans_centroids", "kcx",
              "CAST(cell AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("kmeans_assign", "kaf",
              "CAST(vec_id AS VARCHAR) || ':' || CAST(cell AS VARCHAR) || ':' || " +
                "CASE WHEN isnan(cos) THEN 'nan' ELSE CAST(CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS VARCHAR) END")}
         |  UNION ALL
         |  ${digSql("pagerank", GraphOps.pagerankFinalCte,
              "CAST(node AS VARCHAR) || ':' || CAST(CAST(floor(r * 1e8 + 0.5) AS BIGINT) AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("retrain_decision", decRel,
              "CAST(label AS VARCHAR) || ':' || reason || ':' || overall_decision")}
         |  UNION ALL
         |  ${digSql("work_docs", s"(SELECT * FROM documents WHERE doc_id >= ${Dedup.IncSplit})",
              "CAST(doc_id AS VARCHAR) || ':' || md5(text)")}
         |  UNION ALL
         |  ${digSql("work_edges", "(SELECT * FROM e WHERE src % 8 = 0)",
              "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR) || ':' || CAST(weight AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("work_embeddings",
              s"(SELECT * FROM cdexpl WHERE vec_id >= ${Similarity.VecDriftSplit})",
              "CAST(vec_id AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)")})
         |SELECT component, n_rows, checksum FROM dayrep ORDER BY component""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val root = opsDayRootDir(s, dir)
    val rootPath = new org.apache.hadoop.fs.Path(
      new java.io.File(root).getParent)
    val hfs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
    if (hfs.exists(rootPath)) hfs.delete(rootPath, true)
    val (docsDir, embDir, edgeDir) =
      (s"$root/documents", s"$root/embeddings", s"$root/edges")
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val e = GraphOps.edgesNum(s, dir)
    val edgeBatch = $"src" % 8 === 0
    // ---- day 0: base slices land as files (three disjoint dirs —
    // written concurrently, see [[inParallel]]); manifests snapshot them
    inParallel(Seq(
      () => docs.filter($"doc_id" < Dedup.IncSplit).coalesce(4)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(docsDir),
      () => emb.filter($"vec_id" < Similarity.VecDriftSplit).coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(embDir),
      () => e.filter(!edgeBatch).coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(edgeDir)))
    val dirs = Seq("documents" -> docsDir, "embeddings" -> embDir,
      "edges" -> edgeDir)
    val m0 = dirs.map { case (n, d) =>
      n -> graft.sources.CorpusIO.manifest(s, d) }.toMap
    // ---- day 1: the batch files land (independent writes, overlapped)
    inParallel(Seq(
      () => docs.filter($"doc_id" >= Dedup.IncSplit).coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(docsDir),
      () => emb.filter($"vec_id" >= Similarity.VecDriftSplit).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(embDir),
      () => e.filter(edgeBatch).coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(edgeDir)))
    // ---- ONE work list across the three inputs (driver action of
    // manifest scale), incremental-gate guards per input
    val work = dirs.map { case (n, d) =>
      val diff = graft.sources.CorpusIO.manifestDiff(m0(n),
        graft.sources.CorpusIO.manifest(s, d)).collect()
      graft.sources.CorpusIO.schemaGuard(diff.toIndexedSeq)
      require(!diff.exists(r => Set("changed", "removed", "schema_changed",
          "schema_added_col").contains(r.getAs[String]("status"))),
        s"$n: manifestDiff scheduled a base file for reprocessing")
      val files = diff.filter(r => Set("added", "changed")
          .contains(r.getAs[String]("status")))
        .map(r => s"$d/${r.getAs[String]("file")}").sorted.toIndexedSeq
      require(files.nonEmpty, s"$n: batch day produced no work-list files")
      n -> files
    }.toMap
    val workDocs = s.read.parquet(work("documents"): _*).ckpt
    val workEmb = s.read.parquet(work("embeddings"): _*).ckpt
    val workEdges = s.read.parquet(work("edges"): _*).ckpt
    // ---- publish day 0, ingest day 1 from the work list only, serve
    val store = opsDayStoreDir(s, dir)
    val prevConf = s.conf.get(graft.sources.IndexStore.DirConf, null)
    s.conf.set(graft.sources.IndexStore.DirConf, store)
    try {
      val bands = Dedup.minhashBands(s, dir)
      val kB = s"day_bands:$dir"
      graft.sources.IndexStore.publish(s, kB,
        bands.filter($"doc_id" < Dedup.IncSplit), "bkey")
      graft.sources.IndexStore.append(s, kB, Dedup.bandsOfDocs(workDocs))
      val (fb, fa) = graft.sources.IndexStore.compact(s, kB)
      require(fa <= fb, s"compaction must not grow the file count ($fb -> $fa)")
      val servedBands = graft.sources.IndexStore.tryServe(s, kB).getOrElse(
        throw new IllegalStateException("day signature store refused to serve"))
      val kG = s"day_edges:$dir"
      graft.sources.IndexStore.publish(s, kG, e.filter(!edgeBatch), "src")
      graft.sources.IndexStore.append(s, kG, workEdges)
      val servedEdges = graft.sources.IndexStore.tryServe(s, kG).getOrElse(
        throw new IllegalStateException("day graph store refused to serve"))
      // k-means with the retrain gate in the loop: day-0 centroids are
      // the base-only fit; the arriving batch decides the day's action
      val dayEmb = s.read.parquet(embDir)
      val k0 = s"day_km0:$dir"
      graft.sources.IndexStore.publish(s, k0,
        Similarity.kmeansFitOver(
          dayEmb.filter($"vec_id" < Similarity.VecDriftSplit)), "cell")
      // day-0 assignment store: base vectors under the day-0 centroids
      // — the index the serve branch APPENDS arrivals into
      val kAf0 = s"day_kmaf:$dir"
      graft.sources.IndexStore.publish(s, kAf0,
        Similarity.kmAssignRowsOf(
          dayEmb.filter($"vec_id" < Similarity.VecDriftSplit),
          graft.sources.IndexStore.tryServe(s, k0).getOrElse(
            throw new IllegalStateException(
              "day-0 centroid store refused to serve"))), "cell")
      val decision = retrainDecision(Similarity.centroidDriftOver(
        Similarity.explOf(dayEmb), dayEmb, Similarity.VecDriftSplit)).ckpt
      val retrain = decision.select($"overall_decision").head()
        .getString(0) == "retrain" // 1-row driver read (gr_louvain class)
      val (servedCents, servedAssign) = dayKmAction(s, retrain, dayEmb,
        dayEmb.filter($"vec_id" >= Similarity.VecDriftSplit),
        k0, s"day_km:$dir", kAf0, s"day_kmrt:$dir")
      // ---- the composed day report
      val pr = GraphOps.pagerank(
        GraphOps.iterRelation(GraphOps.undirected(servedEdges)))
      val pairs = Dedup.lshCandidates(servedBands)
      dig(pairs, concat($"doc_a".cast("string"), lit(":"),
          $"doc_b".cast("string")), "dedup_pairs")
        .union(dig(servedCents.select($"cell", posexplode($"c").as(Seq("j0", "x"))),
          concat($"cell".cast("string"), lit(":"), ($"j0" + 1).cast("string"),
            lit(":"), floor($"x" * 1e9 + 0.5).cast("long").cast("string")),
          "kmeans_centroids"))
        // the served ASSIGNMENT store vs the oracle's full-corpus kaf:
        // on this corpus the gate retrains, so the store holds the
        // refit reassignment — digest-equal to the fresh chain (the
        // serve-branch append twin is spec-driven and oracled through
        // sim_ivf_append / ops_week)
        .union(dig(servedAssign,
          concat($"vec_id".cast("string"), lit(":"), $"cell".cast("string"),
            lit(":"), when(isnan($"cos"), lit("nan"))
              .otherwise(floor($"cos" * 1e6 + 0.5).cast("long").cast("string"))),
          "kmeans_assign"))
        .union(dig(pr, concat($"node".cast("string"), lit(":"),
          floor($"r" * 1e8 + 0.5).cast("long").cast("string")), "pagerank"))
        .union(dig(decision, concat($"label".cast("string"), lit(":"),
          $"reason", lit(":"), $"overall_decision"), "retrain_decision"))
        .union(dig(workDocs, concat($"doc_id".cast("string"), lit(":"),
          md5($"text")), "work_docs"))
        .union(dig(workEdges, concat($"src".cast("string"), lit(":"),
          $"dst".cast("string"), lit(":"), $"weight".cast("string")),
          "work_edges"))
        .union(dig(Similarity.explOf(workEmb),
          concat($"vec_id".cast("string"), lit(":"), $"j".cast("string"),
            lit(":"), floor($"x" * 1e9 + 0.5).cast("long").cast("string")),
          "work_embeddings"))
        .orderBy($"component")
    } finally {
      if (prevConf == null) s.conf.unset(graft.sources.IndexStore.DirConf)
      else s.conf.set(graft.sources.IndexStore.DirConf, prevConf)
    }
  }

  private[graft] def opsWeekRootDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_ops_week", "week")

  private[graft] def opsWeekStoreDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String = sessionCorpusTmpDir(s, dir, "graft_ops_week", "store")

  /** First planted vec_id of the week's aligned embedding batch — far
    * above any corpus id, so day membership stays derivable from the id
    * in both engines.
    */
  private val WeekAlignedBase = 100000L

  /** Bucket count of the week's stores (the publish default) — the
    * compaction-flatness requires assert against it.
    */
  private val WeekBuckets = 8

  /** SEVEN ingest days through all three durable stores (r19 verdict
    * item 8, the stretch) — the composed, multi-day version of
    * [[dayReport]] and the closest in-sandbox analog of a month of the
    * reference's DAG schedule (reddit_can_complete_pipeline.py:310-487):
    *
    *  - **Schedule.** Day 0 lands the base slices (docs < IncSplit,
    *    vectors < VecDriftSplit, edges src%8≠0) and publishes the
    *    signature store, the graph store, the day-0 centroids and the
    *    day-0 assignment store. Days 1..7 each land a deterministic doc
    *    slice (doc_id ≥ IncSplit, doc_id%7 = d−1) and edge slice
    *    (src%56 = 8(d−1)); manifests diff per input per day, with the
    *    incremental-gate guards (schema evolution checked, no base file
    *    rescheduled, phantom arrivals refused).
    *  - **Gate flip.** Day 1's vector arrivals are the PLANTED ALIGNED
    *    batch (three copies of each label's base centroid, float-cast —
    *    centroid_cos 1.0, share ≪ 0.3) → the retrain gate reads SERVE
    *    and the arrivals APPEND into the assignment store under the
    *    frozen day-0 centroids (`sim_ivf_append`'s machinery, now
    *    running inside the ORACLED arc). Day 2's arrivals are the
    *    drifted corpus batch → RETRAIN: full refit over the day tree,
    *    full reassignment published blue/green. Both day's gates
    *    compare the arrivals against the CURRENT index content
    *    ([[Similarity.centroidDriftOverPred]]), and the flip is
    *    require-asserted — a broken plant fails loudly, never
    *    silently serves.
    *  - **Maintenance cadence.** The signature store compacts on days
    *    3 and 6 only (not every day); each compaction must restore the
    *    one-file-per-bucket layout (require ≤ [[WeekBuckets]] data
    *    files — the file-count telemetry, also spec-asserted).
    *  - **Schema-additive day.** Day 4's doc files carry an added
    *    nullable `ingest_day` column — accepted by the additive rule,
    *    ignored by the pipeline, hash-equal end to end.
    *  - **Retention purge.** After day 7, the OLDEST batch day's docs
    *    (day 1) exit retention: the signature store is republished
    *    blue/green filtered to retained rows, and the final candidate
    *    pairs come from the purged store.
    *
    *  The report digests the final composed outputs — purged-store
    *  candidate pairs, served-graph PageRank, final centroids AND final
    *  assignment, both days' decision rows, and the three work-list
    *  streams (day-tagged) — and the ORACLE computes the same digests
    *  from the full-rebuild semantics over SHADOWED relations (CTEs
    *  `documents` = retained docs, `embeddings` = corpus ∪ the aligned
    *  batch re-derived arithmetically), so the hash match IS the proof
    *  that seven days of incremental maintenance — appends, two
    *  compactions, a schema-additive day, a gate flip with a serve-day
    *  append, and a retention purge — lose and invent nothing in any
    *  store. Store/conf handling follows [[dayReport]], and every run
    *  re-executes the seven days.
    */
  val weekReport = QueryDef(
    "ops_week", {
      val S = Dedup.IncSplit
      val V = Similarity.VecDriftSplit
      val A = WeekAlignedBase
      s"""WITH walc AS MATERIALIZED (SELECT label, list(CAST(c AS FLOAT) ORDER BY j) AS embedding
         |  FROM (SELECT label, j, ${PS.davg("x", 9)} AS c FROM (
         |      SELECT label, generate_subscripts(embedding, 1) AS j,
         |        CAST(unnest(embedding) AS DOUBLE) AS x
         |      FROM main.embeddings WHERE vec_id < $V) GROUP BY label, j) t
         |  GROUP BY label),
         |wal AS MATERIALIZED (SELECT CAST($A + label * 10 + cp AS BIGINT) AS vec_id,
         |    label, embedding
         |  FROM walc, generate_series(0, 2) t(cp)),
         |embeddings AS MATERIALIZED (SELECT vec_id, label, embedding FROM main.embeddings
         |  UNION ALL SELECT vec_id, label, embedding FROM wal),
         |documents AS MATERIALIZED (SELECT doc_id, text FROM main.documents
         |  WHERE NOT (doc_id >= $S AND doc_id % 7 = 0)),
         |${Dedup.lshSql},
         |${GraphOps.pagerankSqlChain},
         |${Similarity.kmSql},
         |kcx AS MATERIALIZED (SELECT cell, generate_subscripts(c, 1) AS j, unnest(c) AS x
         |  FROM kc${Similarity.KmIters}),
         |${Similarity.centroidDriftSqlPred("w1", "embeddings",
            s"e.vec_id < $V", s"e.vec_id >= $A")},
         |${retrainSqlPref("w1", "w1r")},
         |${Similarity.centroidDriftSqlPred("w2", "embeddings",
            s"e.vec_id < $V OR e.vec_id >= $A", s"e.vec_id >= $V AND e.vec_id < $A")},
         |${retrainSqlPref("w2", "w2r")},
         |wdec AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS day, d.label, d.reason, o.overall_decision
         |  FROM w1rgd d CROSS JOIN w1rgo o
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), d.label, d.reason, o.overall_decision
         |  FROM w2rgd d CROSS JOIN w2rgo o),
         |weekrep AS MATERIALIZED (
         |  ${digSql("dedup_pairs", "lsh_cand",
              "CAST(doc_a AS VARCHAR) || ':' || CAST(doc_b AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("decisions", "wdec",
              "CAST(day AS VARCHAR) || ':' || CAST(label AS VARCHAR) || ':' || reason || ':' || overall_decision")}
         |  UNION ALL
         |  ${digSql("kmeans_assign", "kaf",
              "CAST(vec_id AS VARCHAR) || ':' || CAST(cell AS VARCHAR) || ':' || " +
                "CASE WHEN isnan(cos) THEN 'nan' ELSE CAST(CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS VARCHAR) END")}
         |  UNION ALL
         |  ${digSql("kmeans_centroids", "kcx",
              "CAST(cell AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("pagerank", GraphOps.pagerankFinalCte,
              "CAST(node AS VARCHAR) || ':' || CAST(CAST(floor(r * 1e8 + 0.5) AS BIGINT) AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("work_docs",
              s"(SELECT CAST(doc_id % 7 + 1 AS BIGINT) AS day, doc_id, text FROM main.documents WHERE doc_id >= $S)",
              "CAST(day AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) || ':' || md5(text)")}
         |  UNION ALL
         |  ${digSql("work_edges",
              "(SELECT CAST((src % 56) // 8 + 1 AS BIGINT) AS day, src, dst, weight FROM e WHERE src % 8 = 0)",
              "CAST(day AS VARCHAR) || ':' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR) || ':' || CAST(weight AS VARCHAR)")}
         |  UNION ALL
         |  ${digSql("work_embeddings",
              s"""(SELECT CAST(1 AS BIGINT) AS day, vec_id, generate_subscripts(embedding, 1) AS j,
                 |      CAST(unnest(embedding) AS DOUBLE) AS x FROM wal
                 |    UNION ALL
                 |    SELECT CAST(2 AS BIGINT), vec_id, generate_subscripts(embedding, 1),
                 |      CAST(unnest(embedding) AS DOUBLE) FROM main.embeddings WHERE vec_id >= $V)""".stripMargin,
              "CAST(day AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)")})
         |SELECT component, n_rows, checksum FROM weekrep ORDER BY component""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val root = opsWeekRootDir(s, dir)
    val rootPath = new org.apache.hadoop.fs.Path(
      new java.io.File(root).getParent)
    val hfs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
    if (hfs.exists(rootPath)) hfs.delete(rootPath, true)
    val (docsDir, embDir, edgeDir) =
      (s"$root/documents", s"$root/embeddings", s"$root/edges")
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val e = GraphOps.edgesNum(s, dir)
    val V = Similarity.VecDriftSplit
    val docBase = $"doc_id" < Dedup.IncSplit
    def docDay(d: Int) =
      $"doc_id" >= Dedup.IncSplit && pmod($"doc_id", lit(7L)) === (d - 1).toLong
    val edgeBatch = $"src" % 8 === 0
    def edgeDay(d: Int) = $"src" % 56 === (8L * (d - 1))
    // the planted aligned batch: each base label's exact-decimal
    // centroid, float-cast (the corpus's element type), three copies
    // per label — centroid_cos 1.0 by construction, share ≪ 0.3
    val wal = {
      val raw = Similarity.explOf(emb.filter($"vec_id" < V))
        .groupBy($"label", $"j").agg(P.davg($"x", 9).as("c"))
        .groupBy($"label")
        .agg(transform(array_sort(collect_list(struct($"j", $"c"))),
          x => x.getField("c").cast("float")).as("embedding"))
        .select(explode(array((0 until 3).map(lit(_)): _*)).as("cp"),
          $"label", $"embedding")
        .select((lit(WeekAlignedBase) + $"label" * 10 + $"cp").cast("long")
          .as("vec_id"), $"label", $"embedding")
      // conform to the corpus frame's EXACT schema (incl. nullability)
      // — the manifest schema guard rightly refuses a day file whose
      // parquet required/optional flags diverge from the base corpus
      val sch = org.apache.spark.sql.types.StructType(
        Seq("vec_id", "label", "embedding").map(emb.schema(_)))
      s.createDataFrame(
        raw.select(sch.fields.map(f => col(f.name).cast(f.dataType))
          .toIndexedSeq: _*).rdd, sch)
        .ckpt
    }
    // ---- day 0: base slices land (three disjoint dirs — written
    // concurrently, see [[inParallel]]); manifests snapshot; stores publish
    inParallel(Seq(
      () => docs.filter(docBase).coalesce(4)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(docsDir),
      () => emb.filter($"vec_id" < V).coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(embDir),
      () => e.filter(!edgeBatch).coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(edgeDir)))
    val snaps = scala.collection.mutable.Map(
      "documents" -> graft.sources.CorpusIO.manifest(s, docsDir),
      "embeddings" -> graft.sources.CorpusIO.manifest(s, embDir),
      "edges" -> graft.sources.CorpusIO.manifest(s, edgeDir))
    val dirOf = Map("documents" -> docsDir, "embeddings" -> embDir,
      "edges" -> edgeDir)
    def workOf(name: String): IndexedSeq[String] = {
      val cur = graft.sources.CorpusIO.manifest(s, dirOf(name))
      val diff = graft.sources.CorpusIO.manifestDiff(snaps(name), cur).collect()
      graft.sources.CorpusIO.schemaGuard(diff.toIndexedSeq)
      require(!diff.exists(r => Set("changed", "removed", "schema_changed",
          "schema_added_col").contains(r.getAs[String]("status"))),
        s"$name: manifestDiff scheduled a base file for reprocessing")
      snaps(name) = cur
      diff.filter(r => Set("added", "changed")
          .contains(r.getAs[String]("status")))
        .map(r => s"${dirOf(name)}/${r.getAs[String]("file")}")
        .sorted.toIndexedSeq
    }
    val store = opsWeekStoreDir(s, dir)
    val prevConf = s.conf.get(graft.sources.IndexStore.DirConf, null)
    s.conf.set(graft.sources.IndexStore.DirConf, store)
    try {
      val bands = Dedup.minhashBands(s, dir)
      val kB = s"week_bands:$dir"
      graft.sources.IndexStore.publish(s, kB, bands.filter(docBase), "bkey")
      val kG = s"week_edges:$dir"
      graft.sources.IndexStore.publish(s, kG, e.filter(!edgeBatch), "src")
      val emb0 = s.read.parquet(embDir)
      val k0 = s"week_km0:$dir"
      graft.sources.IndexStore.publish(s, k0,
        Similarity.kmeansFitOver(emb0), "cell")
      val kAf0 = s"week_kmaf:$dir"
      graft.sources.IndexStore.publish(s, kAf0,
        Similarity.kmAssignRowsOf(emb0,
          graft.sources.IndexStore.tryServe(s, k0).getOrElse(
            throw new IllegalStateException(
              "week day-0 centroid store refused to serve"))), "cell")
      var servedCents = graft.sources.IndexStore.tryServe(s, k0).get
      var servedAssign = graft.sources.IndexStore.tryServe(s, kAf0).get
      val workDocsBuf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      val workEdgesBuf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      val workEmbBuf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      val decBuf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      for (d <- 1 to 7) {
        // ---- day-d arrivals land (day 4 carries the additive column).
        // The 2-3 landing writes hit disjoint directories — overlapped
        // from the thread pool (r19 verdict item 7 / guide §2.6); the
        // day loop itself stays sequential (manifest diffs and the
        // gate flip read the previous day's state).
        val dd0 = docs.filter(docDay(d))
        val dd = if (d == 4)
          dd0.withColumn("ingest_day", when($"doc_id".isNotNull, lit("day4")))
        else dd0
        inParallel(Seq(
          () => dd.coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(docsDir),
          () => e.filter(edgeDay(d)).coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(edgeDir)) ++
          (if (d == 1) Seq(() => wal.coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(embDir))
          else if (d == 2) Seq(() => emb.filter($"vec_id" >= V).coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(embDir))
          else Nil))
        // ---- work lists + guards, ingest into the stores
        val wd = workOf("documents")
        require(wd.nonEmpty, s"day $d produced no doc work-list files")
        val we = workOf("edges")
        require(we.nonEmpty, s"day $d produced no edge work-list files")
        val workDocs = s.read.parquet(wd: _*).ckpt
        val workEdges = s.read.parquet(we: _*).ckpt
        graft.sources.IndexStore.append(s, kB, Dedup.bandsOfDocs(workDocs))
        graft.sources.IndexStore.append(s, kG, workEdges)
        // compaction CADENCE: days 3 and 6 only; each must restore the
        // one-file-set-per-bucket layout (file-count telemetry)
        if (d == 3 || d == 6) {
          val (fb, fa) = graft.sources.IndexStore.compact(s, kB)
          require(fa <= fb && fa <= WeekBuckets,
            s"day $d compaction must restore ≤ $WeekBuckets data files ($fb -> $fa)")
        }
        workDocsBuf += workDocs.select(lit(d.toLong).as("day"),
          $"doc_id", $"text")
        workEdgesBuf += workEdges.select(lit(d.toLong).as("day"),
          $"src", $"dst", $"weight")
        if (d <= 2) {
          val wv = workOf("embeddings")
          require(wv.nonEmpty, s"day $d produced no embedding work-list files")
          val workEmb = s.read.parquet(wv: _*).ckpt
          workEmbBuf += Similarity.explOf(workEmb)
            .select(lit(d.toLong).as("day"), $"vec_id", $"j", $"x")
          // the gate compares the day's ARRIVALS against the CURRENT
          // index content (day 1: base; day 2: base ∪ day-1's
          // appended aligned batch)
          val tree = s.read.parquet(embDir)
          val (isBase, isBatch) =
            if (d == 1)
              ($"vec_id" < V, $"vec_id" >= WeekAlignedBase)
            else
              ($"vec_id" < V || $"vec_id" >= WeekAlignedBase,
                $"vec_id" >= V && $"vec_id" < WeekAlignedBase)
          val dec = retrainDecision(Similarity.centroidDriftOverPred(
            Similarity.explOf(tree), tree, isBase, isBatch)).ckpt
          decBuf += dec.select(lit(d.toLong).as("day"), $"label",
            $"reason", $"overall_decision")
          val retrain = dec.select($"overall_decision").head()
            .getString(0) == "retrain" // 1-row driver read
          // the planted flip, require-asserted: day 1 serves (aligned),
          // day 2 retrains (drifted) — a broken plant fails loudly
          require(if (d == 1) !retrain else retrain,
            s"day $d gate read ${if (retrain) "retrain" else "serve"} — " +
              "the planted week schedule is broken")
          val (c2, a2) = dayKmAction(s, retrain, tree, workEmb,
            k0, s"week_km_d$d:$dir", kAf0, s"week_kmaf_rt:$dir")
          servedCents = c2
          servedAssign = a2
        } else {
          // no vector arrivals scheduled: the diff must agree
          require(workOf("embeddings").isEmpty,
            s"day $d scheduled phantom embedding files")
        }
      }
      // ---- day-7 retention purge: the oldest batch day's docs exit —
      // blue/green republish of the signature store on retained rows
      val servedB = graft.sources.IndexStore.tryServe(s, kB).getOrElse(
        throw new IllegalStateException("week signature store refused to serve"))
      val kB2 = s"week_bands_r:$dir"
      // repartitioned on the bucket-id expression (the compact
      // discipline): the retention rewrite lands ONE file per bucket
      // with the full per-bucket sort, not one file set per input task
      graft.sources.IndexStore.publish(s, kB2,
        servedB.filter(!($"doc_id" >= Dedup.IncSplit &&
            pmod($"doc_id", lit(7L)) === 0L))
          .repartition(WeekBuckets, pmod(hash($"bkey"), lit(WeekBuckets))),
        "bkey")
      val servedB2 = graft.sources.IndexStore.tryServe(s, kB2).getOrElse(
        throw new IllegalStateException("purged signature store refused to serve"))
      val servedG = graft.sources.IndexStore.tryServe(s, kG).getOrElse(
        throw new IllegalStateException("week graph store refused to serve"))
      // ---- the composed week report
      val pr = GraphOps.pagerank(
        GraphOps.iterRelation(GraphOps.undirected(servedG)))
      val pairs = Dedup.lshCandidates(servedB2)
      dig(pairs, concat($"doc_a".cast("string"), lit(":"),
          $"doc_b".cast("string")), "dedup_pairs")
        .union(dig(decBuf.reduce(_ unionAll _),
          concat($"day".cast("string"), lit(":"), $"label".cast("string"),
            lit(":"), $"reason", lit(":"), $"overall_decision"),
          "decisions"))
        .union(dig(servedAssign,
          concat($"vec_id".cast("string"), lit(":"), $"cell".cast("string"),
            lit(":"), when(isnan($"cos"), lit("nan"))
              .otherwise(floor($"cos" * 1e6 + 0.5).cast("long").cast("string"))),
          "kmeans_assign"))
        .union(dig(servedCents.select($"cell", posexplode($"c").as(Seq("j0", "x"))),
          concat($"cell".cast("string"), lit(":"), ($"j0" + 1).cast("string"),
            lit(":"), floor($"x" * 1e9 + 0.5).cast("long").cast("string")),
          "kmeans_centroids"))
        .union(dig(pr, concat($"node".cast("string"), lit(":"),
          floor($"r" * 1e8 + 0.5).cast("long").cast("string")), "pagerank"))
        .union(dig(workDocsBuf.reduce(_ unionAll _),
          concat($"day".cast("string"), lit(":"), $"doc_id".cast("string"),
            lit(":"), md5($"text")), "work_docs"))
        .union(dig(workEdgesBuf.reduce(_ unionAll _),
          concat($"day".cast("string"), lit(":"), $"src".cast("string"),
            lit(":"), $"dst".cast("string"), lit(":"),
            $"weight".cast("string")), "work_edges"))
        .union(dig(workEmbBuf.reduce(_ unionAll _),
          concat($"day".cast("string"), lit(":"), $"vec_id".cast("string"),
            lit(":"), $"j".cast("string"), lit(":"),
            floor($"x" * 1e9 + 0.5).cast("long").cast("string")),
          "work_embeddings"))
        .orderBy($"component")
    } finally {
      if (prevConf == null) s.conf.unset(graft.sources.IndexStore.DirConf)
      else s.conf.set(graft.sources.IndexStore.DirConf, prevConf)
    }
  }

  val defs: Seq[QueryDef] = Seq(pipelineReport, freshness, infraGate,
    incrementalGate, storeLifecycle, graphIngest, retrainGate, dayReport,
    weekReport)
}
