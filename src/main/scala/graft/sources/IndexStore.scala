package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, cross-session store for the train-once artifacts the session
  * [[graft.MatStore]] shares within one JVM: the trained k-means model
  * (centroids + per-vector assignment), the MinHash LSH signature store,
  * and the graph edge relations. The reference persists its equivalents
  * in MongoDB between pipeline runs (network-analysis/network_analysis.py
  * writes the user network; spark-ml-sentiment sinks its results); graft
  * persists them as BUCKETED parquet tables ([[CorpusIO.writeBucketed]] —
  * SURVEY §2l calls bucketing "the durable form of MatStore"), so a serve
  * session reads them pre-shuffled: a join or aggregation on the bucket
  * key plans NO exchange, exactly like the in-session repartition cache,
  * but surviving the JVM.
  *
  * Mechanics: producers NAME the store — [[publish]], [[append]],
  * [[compact]] and [[serve]] take its directory as an argument.
  * [[publish]] writes the relation there as a bucketed external table
  * plus a tiny `_`-prefixed properties sidecar (bucket column/count +
  * schema DDL — everything a FRESH session needs; parquet readers ignore
  * underscore files). The session conf [[dir]] reads is only the
  * CONSUMER's deployment setting: [[graft.MatStore]] consults
  * [[tryServe]] on every cache miss, and a key published in that store
  * re-registers its external table from the sidecar (`CREATE TABLE …
  * CLUSTERED BY … LOCATION …`) and is read instead of rebuilt — train
  * once, serve many SESSIONS. Nothing else reads or writes the conf;
  * unset (the default, and the oracle gates' mode) the consumer path is
  * completely inert.
  */
object IndexStore {

  /** Session conf carrying the consumers' store directory; unset = inert. */
  val DirConf = "spark.graft.index.dir"

  private val Meta = "_graft_index.properties"

  /** Second sidecar: the recorded source snapshot (one line per visible
    * parquet file of the source dir at publish time — see
    * [[sourceSnapshotLines]]). A separate file, not a property: the
    * list is manifest-scale, and properties-escaping a multi-MB value
    * would make the main sidecar unreadable to a human operator.
    */
  private val SrcMeta = "_graft_source.snapshot"

  /** The store directory consumers serve from (the deployment setting). */
  def dir(s: SparkSession): Option[String] =
    Option(s.conf.get(DirConf, null)).filter(_.nonEmpty)

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sessionState.newHadoopConf())

  /** `key`'s loaded sidecar under `store`; None when not published. */
  private def sidecar(s: SparkSession, store: String, key: String)
      : Option[(FileSystem, Path, java.util.Properties)] = {
    val p = new Path(s"$store/${tableName(key)}/$Meta")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = fs.open(p)
      try props.load(in) finally in.close()
      Some((fs, p, props))
    }
  }

  private def writeSidecar(fs: FileSystem, p: Path, props: java.util.Properties,
      comment: String): Unit = {
    val out = fs.create(p, true)
    try props.store(out, comment) finally out.close()
  }

  /** The artifact's recorded source snapshot, if it carries one — the
    * one reader of the file [[writeSnapshot]] writes.
    */
  private def recordedSnapshot(fs: FileSystem, path: String): Option[Vector[String]] = {
    val sp = new Path(s"$path/$SrcMeta")
    if (!fs.exists(sp)) None
    else {
      val in = fs.open(sp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toVector)
      finally in.close()
    }
  }

  /** (Re)write the artifact's source snapshot via write-temp + delete +
    * rename: a crash mid-write leaves the old snapshot or NO snapshot
    * (which serving refuses), never a silently truncated one (r15 review).
    */
  private def writeSnapshot(fs: FileSystem, path: String, lines: Seq[String]): Unit = {
    val sp = new Path(s"$path/$SrcMeta")
    val tmp = new Path(s"$path/$SrcMeta.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(sp, false)
    if (!fs.rename(tmp, sp))
      throw new IllegalStateException(s"failed to swap the source snapshot at $path")
  }

  /** Publish-generation token of `key`'s artifact in the consumers'
    * store, or None when the store is unconfigured/unpublished — the
    * CHEAP republish signal (one tiny sidecar read; every
    * publish/append/compact writes a FRESH `version` uuid). Long-lived
    * consumers (the streaming enrichment leg) cache the served relation
    * and revalidate on this instead of paying [[tryServe]]'s full
    * source-staleness listing per use. A uuid, deliberately NOT the
    * sidecar mtime: on filesystems with coarse (1s) mtime resolution a
    * republish landing in the same second as the prior publish would
    * read as 'unchanged' while the swap has already deleted the files
    * the cached plan points at (r15 ADVICE). Older sidecars without the
    * property fall back to mtime+length — still strictly stronger than
    * mtime alone.
    */
  def metaVersion(s: SparkSession, key: String): Option[String] =
    dir(s).flatMap(sidecar(s, _, key)).map { case (fs, p, props) =>
      Option(props.getProperty("version")).getOrElse {
        val st = fs.getFileStatus(p)
        s"mtime:${st.getModificationTime};len:${st.getLen}"
      }
    }

  /** Catalog-safe table name for a MatStore key (keys embed paths). The
    * readable sanitized form COLLAPSES distinct keys (`/data/sf0.1` and
    * `/data/sf0_1` both sanitize to `_data_sf0_1`), so a short digest of
    * the RAW key is suffixed — two different corpora can never alias to
    * one table/dir (r13 ADVICE); serving additionally refuses a sidecar
    * whose stored key disagrees (defense in depth for stores written by
    * older layouts).
    */
  def tableName(key: String): String =
    "graft_idx_" + key.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_") + "_" + md5Hex(key).take(8)

  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** One `rel\tbytes\tmtime` line per visible parquet file of a corpus
    * dir, sorted — the recorded source snapshot behind the staleness
    * check: recorded at [[publishCorpus]] time, recomputed on serve, so
    * a store whose SOURCE DATA was rewritten under the same path is
    * refused (serve falls back to an in-session rebuild) instead of
    * silently serving artifacts of the dead corpus (r13 ADVICE). A pure
    * metadata pass that shares [[CorpusIO.visibleParquetFiles]]'s
    * visibility rule (the same rule [[CorpusIO.manifest]] applies), so a
    * file the manifest would schedule can never be invisible to the
    * check.
    *
    * Cost note: the recursive listing runs once per SERVED KEY per
    * session (MatStore memoizes the served relation, so tryServe fires
    * on the first miss only) — the same metadata-pass cost class as the
    * served table's own file index. Deliberately NOT cached across
    * keys: a session-scoped cache would blind a live session to an
    * in-place rewrite, which is exactly what the check exists to catch
    * (spec-planted).
    */
  def sourceSnapshotLines(s: SparkSession, dataDir: String): Seq[String] = {
    val root = new Path(dataDir)
    CorpusIO.visibleParquetFiles(fsOf(s, root), root)
      .map { case (rel, _, bytes, mtime) => s"$rel\t$bytes\t$mtime" }
      .sorted
  }

  /** True iff every file recorded at publish time still reads back
    * byte-for-byte the same (present, same size, same mtime). File
    * ADDITIONS are deliberately NOT staleness: new files are the
    * daily-ingest flow (manifestDiff schedules them, [[append]] lands
    * their signatures) — treating an arrival as a rewrite would
    * self-invalidate the store on its first incremental day, while a
    * base file changing or vanishing under a published artifact is the
    * real corruption signal. Any listing failure (source dir moved,
    * permissions) reads as stale — refusal is safe, the consumer
    * rebuilds in-session.
    */
  private def sourceUnchanged(s: SparkSession, dataDir: String,
      recorded: Seq[String]): Boolean =
    try {
      val now = sourceSnapshotLines(s, dataDir).toSet
      recorded.forall(now.contains)
    } catch { case _: java.io.IOException => false }

  /** Publish a MatStore-shared relation under its MatStore `key` as a
    * bucketed external table + sidecar in `store`. The write pays the
    * bucket shuffle ONCE; every serving session amortizes it. Returns
    * the key (for publish-list bookkeeping).
    */
  def publish(s: SparkSession, store: String, key: String, df: DataFrame,
      bucketCol: String, buckets: Int = 8,
      sourceDir: Option[String] = None): String = {
    val name = tableName(key)
    val path = s"$store/$name"
    // refuse a SELF-OVERWRITE: a serving session's MatStore hands every
    // consumer the published table, so "re-train and publish" executed
    // there would overwrite the table from a plan that READS it (the
    // overwrite deletes the input mid-job). Publishing must happen from
    // a training session (one that does not serve this store), or to a
    // fresh store dir swapped in afterwards — the standard blue/green
    // index-rebuild discipline. The plan's input roots see through
    // checkpoints, whose plans list no input files.
    if (org.apache.spark.sql.GraftRunAccess.inputRoots(df)
        .exists(r => s"$r/".contains(s"/$name/")))
      throw new IllegalStateException(
        s"refusing to overwrite published '$key' from a plan that reads it; " +
          "retrain in a session that does not serve this store, or publish " +
          "to a fresh store dir and swap")
    s.sql(s"DROP TABLE IF EXISTS $name")
    CorpusIO.writeBucketed(df, name, path, bucketCol, buckets)
    val props = new java.util.Properties()
    props.setProperty("key", key)
    props.setProperty("bucketCol", bucketCol)
    props.setProperty("buckets", buckets.toString)
    props.setProperty("schema", df.schema.toDDL)
    // monotone publish-generation token — the streaming enrichment
    // cache's cheap revalidation signal (see metaVersion)
    props.setProperty("version", java.util.UUID.randomUUID().toString)
    val meta = new Path(s"$path/$Meta")
    val fs = fsOf(s, meta)
    // source-data snapshot: lets serving refuse the artifact after a
    // file the artifact was trained ON is rewritten or removed in place
    // (additions are the append flow, not staleness)
    sourceDir.foreach { d =>
      props.setProperty("sourceDir", d)
      writeSnapshot(fs, path, sourceSnapshotLines(s, d))
    }
    writeSidecar(fs, meta, props, "graft durable index artifact")
    key
  }

  /** `key` served from `store`: Right(bucketed table scan), or Left —
    * None when the key is not published there, Some(why) when it is
    * published but REFUSED (key-mismatched sidecar, stale or missing
    * source snapshot). A session that has never seen the table
    * re-registers it in its own catalog from the sidecar — no shared
    * metastore required, the filesystem IS the metadata.
    */
  private def resolve(s: SparkSession, store: String, key: String)
      : Either[Option[String], DataFrame] =
    sidecar(s, store, key) match {
      case None => Left(None)
      case Some((fs, _, props)) =>
        val name = tableName(key)
        val path = s"$store/$name"
        val refusal =
          // the sidecar's stored key must be THE requested key — a store
          // written under an older (digest-free) name layout, or any
          // residual collision, must never serve another corpus's artifact
          if (props.getProperty("key") != key)
            Some(s"'$name' holds key '${props.getProperty("key")}', not '$key'")
          // a sourceDir-published store MUST carry its snapshot: a
          // missing file means a crashed maintenance write (the append
          // merge's delete+rename window) — refusing is safe (consumers
          // rebuild in-session), serving without the staleness check is
          // not (r15 review). A file the artifact was trained on that was
          // rewritten or removed since publish makes it stale (blue/green:
          // republish to a fresh store dir to restore serving).
          else Option(props.getProperty("sourceDir")).filter { d =>
            !recordedSnapshot(fs, path).exists(sourceUnchanged(s, d, _))
          }.map(d => s"'$key' is STALE (source data at $d changed since publish)")
        refusal match {
          case Some(why) =>
            System.err.println(s"[IndexStore] $why — not serving")
            Left(Some(why))
          case None =>
            // the catalog name carries the key, not the store: a table
            // registered from ANOTHER store (the same key published or
            // served elsewhere in this session) is re-registered here, or
            // this serve would read that store's files
            val registeredAt = Option.when(s.catalog.tableExists(name))(
              new Path(s.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(name)).location))
            if (!registeredAt.contains(fs.makeQualified(new Path(path)))) {
              val bCol = props.getProperty("bucketCol")
              val n = props.getProperty("buckets").toInt
              if (registeredAt.nonEmpty) s.sql(s"DROP TABLE $name")
              s.sql(
                s"""CREATE TABLE $name (${props.getProperty("schema")})
                   |USING PARQUET
                   |CLUSTERED BY ($bCol) SORTED BY ($bCol) INTO $n BUCKETS
                   |LOCATION '$path'""".stripMargin)
            }
            // the scan's plan names the store's files; compact finds the
            // memos that read them from their plans
            Right(s.table(name))
        }
    }

  /** Serve `key` from the consumers' store ([[dir]]), or None — the
    * consumer then builds in-session. None deliberately conflates "not
    * published" and "refused": for a consumer both mean "rebuild".
    */
  def tryServe(s: SparkSession, key: String): Option[DataFrame] =
    dir(s).flatMap(resolve(s, _, key).toOption)

  /** Serve `key` from the `store` a producer names. A key that will not
    * serve is an error that says WHY: an absent artifact ("publish
    * first") is a different operator mistake from a published-but-REFUSED
    * one (stale source snapshot or key-mismatched sidecar), which needs a
    * blue/green republish, not an append (r14 ADVICE).
    */
  def serve(s: SparkSession, store: String, key: String): DataFrame =
    served(s, store, key, "serve")

  private def served(s: SparkSession, store: String, key: String,
      action: String): DataFrame =
    resolve(s, store, key) match {
      case Right(df) => df
      case Left(None) =>
        throw new IllegalStateException(
          s"cannot $action '$key': not published under $store")
      case Left(Some(why)) =>
        throw new IllegalStateException(
          s"cannot $action '$key': published under $store but REFUSED to serve " +
            s"($why); republish to a fresh store dir instead")
    }

  /** Append rows to an already-PUBLISHED artifact in `store` — the
    * daily-ingest maintenance path: a crawl batch's signatures (or new
    * edges) land in the durable store so the NEXT session's probe sees
    * base + batch without anyone rebuilding the base. The append pays
    * the bucket shuffle for the batch rows only. Each append adds one
    * file set per bucket (Spark bucketed scans handle multi-file
    * buckets; the per-bucket SORT guarantee weakens to per-file — run a
    * compaction rewrite when merge-join sorts start to matter). The
    * batch frame must carry the published schema.
    *
    * `sourceFiles`: the batch's OWN source-data files (absolute paths or
    * paths relative to the published sourceDir), merged into the
    * staleness snapshot alongside whatever `df.inputFiles` resolves.
    * REQUIRED when the batch frame is checkpoint-backed: a LogicalRDD
    * (MatStore's .ckpt output — e.g. the bands relation the lifecycle
    * gate appends) reports NO inputFiles, so without the explicit list
    * the r14 staleness-coverage guarantee would silently no-op for
    * exactly those callers (r15 ADVICE). An append with a recorded
    * sourceDir that resolves ZERO source files refuses loudly rather
    * than landing an untracked batch.
    */
  def append(s: SparkSession, store: String, key: String, df: DataFrame,
      sourceFiles: Seq[String] = Nil): Unit = {
    val name = tableName(key)
    val cur = served(s, store, key, "append")
    val path = s"$store/$name"
    val (fs, meta, props) = sidecar(s, store, key).get
    // extend the staleness snapshot with the batch's OWN source files
    // (those living under the recorded sourceDir) BEFORE the data lands:
    // without this, the snapshot covers only publish-time files, so an
    // in-place rewrite of an ingest day's source file after its
    // signatures were appended would serve a silently stale artifact —
    // the exact failure mode the snapshot exists to catch, shifted one
    // day later (r14 ADVICE). Recording first is the safe order: a crash
    // after the merge but before the data append leaves EXTRA recorded
    // files, which can only cause a conservative refusal, never a stale
    // serve. The merge is manifest-scale (a file list), one listing per
    // append, landed by [[writeSnapshot]].
    Option(props.getProperty("sourceDir")).foreach { d =>
      val dRoot = new Path(d)
      val dfs = fsOf(s, dRoot)
      val dPrefix = dfs.makeQualified(dRoot).toString + "/"
      // inputFiles PLUS the caller's explicit list: a checkpointed
      // (LogicalRDD-backed) batch frame reports no inputFiles at all
      val batchRels = (df.inputFiles.toSeq ++ sourceFiles.map { f =>
          if (f.startsWith("/") || f.contains("://")) f else s"$dPrefix$f"
        })
        .map(f => dfs.makeQualified(new Path(f)).toString)
        .filter(_.startsWith(dPrefix))
        .map(_.stripPrefix(dPrefix))
        .distinct
      if (batchRels.isEmpty)
        throw new IllegalStateException(
          s"append to '$key' resolves NO source files under $d — the " +
            "batch frame is likely checkpoint-backed (inputFiles empty); " +
            "pass the batch's source paths via sourceFiles= so the " +
            "staleness snapshot keeps covering appended days")
      else {
        // a batch rel may name a parquet DIRECTORY (the usual shape of
        // an explicit sourceFiles entry): cover every visible file at
        // or under it
        val byRel = CorpusIO.visibleParquetFiles(dfs, dRoot)
          .map { case (rel, _, bytes, mtime) => rel -> s"$rel\t$bytes\t$mtime" }
        val covered = byRel.collect {
          case (rel, line)
              if batchRels.exists(r => rel == r || rel.startsWith(r + "/")) =>
            line
        }
        // every batch rel must resolve to ≥1 VISIBLE file: a typo'd or
        // never-written sourceFiles entry would otherwise pass the
        // non-empty check above and land the batch with zero staleness
        // coverage — the silent no-op this parameter exists to prevent
        // (r16 review)
        val uncovered = batchRels.filterNot(r =>
          byRel.exists { case (rel, _) => rel == r || rel.startsWith(r + "/") })
        if (uncovered.nonEmpty)
          throw new IllegalStateException(
            s"append to '$key': sourceFiles entr${if (uncovered.size == 1) "y" else "ies"} " +
              s"${uncovered.sorted.mkString(", ")} match NO visible parquet file under $d — " +
              "the staleness snapshot would not cover the appended batch")
        writeSnapshot(fs, path,
          (recordedSnapshot(fs, path).getOrElse(Vector.empty) ++ covered).distinct.sorted)
      }
    }
    // column order must match the table; bucketing spec must match the
    // published one or the scan's co-location promise would be a lie
    df.select(cur.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(props.getProperty("buckets").toInt, props.getProperty("bucketCol"))
      .sortBy(props.getProperty("bucketCol"))
      .format("parquet")
      .saveAsTable(name)
    // fresh publish-generation token AFTER the data lands: a consumer
    // plan cached before the append captured a file index without the
    // new files, so version-revalidating consumers (the streaming
    // enrichment leg) must re-serve to see the appended rows
    props.setProperty("version", java.util.UUID.randomUUID().toString)
    writeSidecar(fs, meta, props, "graft durable index artifact (appended)")
  }

  /** Bucket-AWARE compaction of a published artifact in `store` — the
    * repair for [[append]]'s file growth (each append adds one file set
    * per bucket and weakens the per-bucket sort to per-file). A plain
    * [[CorpusIO.compactFiles]] coalesce would be WRONG here: it strips
    * the bucket file naming, so the rewritten table would silently stop
    * being bucketed and every serve join would re-grow an exchange.
    * This rewrite keeps the bucket spec: the relation is repartitioned
    * ON THE BUCKET-ID EXPRESSION (`pmod(hash(col), n)` — `hash()` is the
    * same Murmur3 the bucketed writer assigns file buckets with), so
    * every bucket's rows land wholly in one write task and the
    * bucketBy/sortBy writer emits exactly ONE file per bucket with the
    * full per-bucket sort restored. (Repartitioning on the raw column
    * does NOT guarantee this: the exchange's partition-index mapping is
    * not the bucket-id mapping, and a bucket split across tasks yields
    * one file per task it touches.) Blue/green at the directory level:
    * the compacted copy is fully written to a side path (sidecars
    * included), then swapped in by TWO renames — never a
    * delete-before-rename. A crash before the swap leaves the original
    * serving; a crash between the renames leaves the store offline
    * (consumers rebuild in-session) with the original intact under
    * `<name>_old`, recoverable by renaming back; no window destroys
    * the artifact. Returns the (before, after) visible data-file
    * counts.
    */
  def compact(s: SparkSession, store: String, key: String): (Int, Int) = {
    val name = tableName(key)
    val path = s"$store/$name"
    val cur = served(s, store, key, "compact")
    val (fs, _, props) = sidecar(s, store, key).get
    val bCol = props.getProperty("bucketCol")
    val n = props.getProperty("buckets").toInt
    def dataFiles(d: String): Int =
      fs.listStatus(new Path(d))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    val before = dataFiles(path)
    val tmpName = name + "_compacting"
    val tmpPath = s"$store/$tmpName"
    s.sql(s"DROP TABLE IF EXISTS $tmpName")
    fs.delete(new Path(tmpPath), true)
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    CorpusIO.writeBucketed(
      cur.repartition(n, pmod(hash(col(bCol)), lit(n))),
      tmpName, tmpPath, bCol, n)
    // swap: the compacted copy is completed on disk INCLUDING both
    // sidecars before anything moves, then a two-rename swap — never a
    // delete-before-rename: a crash between the renames leaves the
    // store OFFLINE (serving refuses, consumers rebuild in-session)
    // with the original intact under `<name>_old`, recoverable by
    // renaming back; the artifact is never destroyed mid-compact
    s.sql(s"DROP TABLE IF EXISTS $tmpName")
    s.sql(s"DROP TABLE IF EXISTS $name")
    // fresh publish-generation token: cached consumers (the streaming
    // enrichment leg) revalidate on it and re-serve the compacted copy
    props.setProperty("version", java.util.UUID.randomUUID().toString)
    writeSidecar(fs, new Path(s"$tmpPath/$Meta"), props,
      "graft durable index artifact (compacted)")
    val srcSnap = new Path(s"$path/$SrcMeta")
    if (fs.exists(srcSnap))
      org.apache.hadoop.fs.FileUtil.copy(fs, srcSnap, fs,
        new Path(s"$tmpPath/$SrcMeta"), false, s.sessionState.newHadoopConf())
    val oldPath = new Path(s"$store/${name}_old")
    fs.delete(oldPath, true)
    if (!fs.rename(new Path(path), oldPath))
      throw new IllegalStateException(s"compaction swap failed for $key (retire)")
    if (!fs.rename(new Path(tmpPath), new Path(path))) {
      fs.rename(oldPath, new Path(path)) // roll back
      throw new IllegalStateException(s"compaction swap failed for $key (promote)")
    }
    fs.delete(oldPath, true)
    // same-session invalidation: every memo whose plan reads this
    // store's pre-swap files goes; memos over other inputs stay warm.
    // The next serve re-CREATEs the dropped table with a fresh file
    // index. Plans already handed out to callers cannot be repaired
    // from here — run compaction from a maintenance session.
    graft.MatStore.clearStoreDerived(s, store)
    (before, dataFiles(path))
  }

  /** Publish the declared train-once artifacts of a corpus to `store`:
    * the trained k-means quantizer (centroids + assignment — the model
    * sim_ivf_kmeans_topk / sim_filtered_topk serve from), the MinHash
    * band signature store (the relation dd_incremental probes per
    * ingest batch), and the graph edge relations (directed base + the
    * node-partitioned undirected iteration relation every gr_* query
    * reads). Bucket keys are each relation's serve-join key. Run it
    * from a training session — one that does not serve `store`.
    */
  def publishCorpus(s: SparkSession, store: String, dataDir: String): Seq[String] = {
    import graft.operators.{Dedup, GraphOps, Similarity}
    Seq[(String, (SparkSession, String) => DataFrame, String)](
      ("sim_km_cents", Similarity.kmCents, "cell"),
      ("sim_km_af", Similarity.kmAssign, "vec_id"),
      // the signature store's serve join is the batch-probes-base band
      // join on (band, bkey) — bucketing by bkey co-locates BOTH sides
      // (subset clustering), so the per-ingest probe plans no exchange
      ("dd_bands", Dedup.minhashBands, "bkey"),
      ("gr_edges_num", GraphOps.edgesNum, "src"),
      ("gr_und_w", GraphOps.sharedUnd, "node"),
      // the converged level-1 Louvain sweep labels (r15) — the iterative
      // artifact gr_louvain reports and gr_louvain_ml coarsens from; a
      // serving session reads the labels instead of re-running the sweeps
      ("gr_lv1", GraphOps.lv1Artifact, "node")
    ).map { case (name, build, bucketCol) =>
      publish(s, store, s"$name:$dataDir", build(s, dataDir), bucketCol,
        sourceDir = Some(dataDir))
    }
  }
}
