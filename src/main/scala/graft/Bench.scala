package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR,
  * emits ONE JSON line {"metric":...,"queries":{name:sec},...}. Failures
  * are reported explicitly under "errors" (never as a fake fast timing).
  *
  * Every sample is one complete run of the query from its declared
  * inputs: a lifecycle gate (ingest, publish/append/compact, a refit)
  * re-executes its arc each time it runs. Train-once artifacts shared by
  * several queries (signature tables, k-means models, edge relations)
  * stay warm in [[MatStore]] across queries unless cold mode
  * (SPARK_GRAFT_BENCH_COLD) clears the store before each query.
  *
  * The host shows intermittent 10-20x CPU throttling in multi-minute
  * windows. Two consequences shape this main:
  *
  *  1. It must ALWAYS get a complete JSON line out before any external
  *     `timeout` kills it: pass 1 takes one sample of every query before
  *     any query gets a second, each sample runs under a watchdog capped
  *     at budget/8, collections mutate under a lock so the SIGTERM
  *     shutdown hook snapshots a consistent line, and a committed
  *     BENCH_SELF.json sidecar survives stdout truncation. Pass 2 spends
  *     what is left on extra samples (min-of-N smooths throttle spikes),
  *     in rounds, cheapest first by pass 1's own numbers, so a short
  *     budget costs queries extra samples, never a row.
  *  2. Spark and DuckDB-oracle samples for the SAME query are taken
  *     back-to-back (one long-lived DuckDB worker, interleaved with the
  *     Spark sweep) so both sides of every ratio land in the same
  *     throttle window. r6's gate swung 1.9x-2.6x on identical code
  *     purely from the two passes running minutes apart; pairing makes
  *     the per-query ratio window-invariant.
  */
object Bench {

  /** Samples a query gets in a warm sweep, from its first sample's
    * seconds. Multi-second queries get five: a single sample sits
    * entirely inside one throttle window, while five span sub-windows
    * of the sweep and the min approaches the clean-window floor. The
    * 0.6-1.5 s band is the weak-rule boundary class: a query whose
    * clean floor is ~0.7 s reads >1 s inside one throttle spike, and
    * with only two samples both can land in the same window (r16:
    * q5_region_revenue recorded 1.05 s in the driver sweep vs 0.62 s
    * committed, same code); three samples span windows.
    */
  private def maxSamples(first: Double): Int =
    if (first > 1.5) 5 else if (first > 0.6) 3 else 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toDouble
    // dev-only subset filter (first arg: comma-separated name substrings);
    // the driver invokes with no args and always sweeps everything
    val only: Set[String] =
      if (args.nonEmpty) args(0).split(",").toSet else Set.empty
    // Cold mode: drop the MatStore before each query so every query pays
    // its own shared builds (signature tables, k-means model, edge list)
    // — the apples-to-apples number against the per-sample oracle, vs
    // the default warm train-once/serve-many posture (see SURVEY §5b).
    // Cold mode is min-of-1: an extra sample would either ride the
    // shared builds its first sample paid or re-pay them all, and the
    // latter does not fit the budget.
    val coldStore = sys.env.get("SPARK_GRAFT_BENCH_COLD").exists(v => v == "1" || v == "true")
    val spark = GraftSession.get(cpus)
    val sc = spark.sparkContext
    // WARN spam (shuffle cleanup, block manager) lands on the [error]
    // stream after emit() and pushed r5's JSON line out of the driver's
    // tail window — silence everything below ERROR.
    sc.setLogLevel("ERROR")

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    // all four collections are guarded by `lock`: the SIGTERM shutdown
    // hook snapshots them while the main thread may still be mutating
    val lock = new Object
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val oracleT = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val printed = new AtomicBoolean(false)
    val lastJson = new java.util.concurrent.atomic.AtomicReference[String]("")

    // `slim` drops the paired-oracle dict: the driver parses the LAST
    // stdout line, and the full line overflowed its capture for six
    // rounds ("parsed": null until r19; the r19 slim line parsed
    // cleanly). The slim line carries the whole driver contract
    // (metric/value/unit/queries/errors/skipped/partial/sf); the oracle
    // timings stay in the full first print and the committed
    // BENCH_SELF.json sidecar.
    def buildJson(partial: Boolean, slim: Boolean = false): String = {
      val (ts, os, es, sk) = lock.synchronized {
        (timings.toSeq, oracleT.toSeq, errors.toSeq, skipped.toSeq)
      }
      def secs(kv: Seq[(String, Double)]): String =
        kv.map { case (k, v) => "\"" + esc(k) + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      val er = es.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }.mkString("{", ",", "}")
      val skj = sk.map("\"" + esc(_) + "\"").mkString("[", ",", "]")
      val total = ts.map(_._2).sum
      val oracleField = if (slim) "" else s""""oracle":${secs(os)},"""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${secs(ts)},$oracleField"errors":$er,"skipped":$skj,"partial":$partial,"sf":"${esc(sfDir)}"}"""
    }
    def emit(partial: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      val line = buildJson(partial)
      lastJson.set(buildJson(partial, slim = true))
      println(line)
      // slim line immediately after, so even the SIGTERM path (shutdown
      // hook, no post-stop println) ends stdout with a tail-sized line
      println(lastJson.get())
      System.out.flush()
      // committed sidecar: timings survive any stdout-tail truncation.
      // FULL sweeps only — a dev subset run must not clobber the
      // committed full-sweep record. Cold-mode sweeps get their own
      // sidecar so the warm (deployed-posture) record stays intact.
      if (only.isEmpty)
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(
            if (coldStore) "BENCH_SELF_COLD.json" else "BENCH_SELF.json"),
          line + "\n")
        catch { case _: Throwable => () }
    }
    // Backstop: external `timeout` sends SIGTERM; the JVM runs shutdown
    // hooks on TERM, so a partial JSON line still reaches stdout.
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(partial = true)))

    val bench0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - bench0) / 1e9
    def remaining: Double = budgetSec - elapsed
    // cap any single query's Spark sample at 1/8 of the whole budget: a
    // pathological query costs one slot, not the rest of the sweep
    def perQueryCap: Double = math.min(remaining - 15, budgetSec / 8)

    val sampleSeq = new AtomicInteger(0)
    // Run one evaluation under a cancellable, per-sample-unique job group:
    // if the query alone would exhaust its cap, its jobs get cancelled and
    // the query is reported as an error instead of hanging the whole bench.
    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        limitSec: Double): Option[Double] = {
      val group = s"$name#${sampleSeq.incrementAndGet()}"
      val done = new AtomicBoolean(false)
      sc.setJobGroup(group, name, interruptOnCancel = true)
      val watchdog = new Thread(() => {
        try {
          Thread.sleep((limitSec * 1000).toLong.max(1L))
          if (!done.get()) sc.cancelJobGroup(group)
        } catch { case _: InterruptedException => () }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      val t0 = System.nanoTime()
      val res = try {
        // Force with a noop WRITE, not count(): count() plans
        // Aggregate(count(1)) and Catalyst then prunes the final sort
        // and every derived output column (EliminateSorts +
        // ColumnPruning), so narrow-map queries (regex chains, hashing,
        // scoring) were partly never executed while the DuckDB worker
        // fetchall()s the full result. The noop sink materializes every
        // output column of every row — what the oracle is timed doing —
        // and discards them without I/O.
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          lock.synchronized {
            // a successful sample supersedes a watchdog cancellation, but
            // a genuine intermittent failure stays visible
            if (!(timings.contains(name) && msg.contains("SPARK_JOB_CANCELLED")))
              errors(name) = msg
          }
          None
      } finally {
        done.set(true)
        watchdog.interrupt()
        sc.clearJobGroup()
      }
      res.foreach { sec =>
        lock.synchronized {
          timings(name) = timings.get(name).fold(sec)(math.min(_, sec))
          if (errors.get(name).exists(_.contains("SPARK_JOB_CANCELLED"))) errors.remove(name)
        }
      }
      res
    }

    // Reclaim before every query's sample: a query's internal per-sample
    // persists otherwise pile up in CacheManager (strong refs, never
    // freed without unpersist) and localCheckpoint blocks are freed by
    // the ContextCleaner only after the owning plan is GC'd — ~90
    // samples of graph/LSH checkpoints inflated late queries in r5
    // (gr_closeness watchdog-cancelled three rounds running while
    // seconds-fast in isolation). clearCache also unregisters the
    // persisted [[MatStore.memo]] relations, which re-materialize on
    // their next read; [[MatStore.of]] checkpoints survive it.
    def reclaim(): Unit = {
      spark.catalog.clearCache()
      if (coldStore) MatStore.clear(spark)
      System.gc()
    }

    // warm the JVM/codegen once with the cheapest query so the first timed
    // query doesn't pay one-time session setup.
    try SparkEntry.queries.get("q1_pricing_summary")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }

    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .sortBy(_._1)

    // one long-lived DuckDB worker for paired oracle samples; None when
    // the driver-side python3+duckdb toolchain is absent (silent skip,
    // measurement only)
    val worker = OracleWorker.start(sfDir, SparkEntry.oracleSql.toSeq)
    def reportOracle(name: String, res: Either[String, Double]): Unit =
      lock.synchronized {
        res match {
          case Right(sec) => oracleT(name) = sec
          case Left(err) => errors(s"oracle:$name") = err.take(200)
        }
      }
    def timeOraclePaired(name: String): Unit = if (SparkEntry.oracleSql.contains(name)) {
      // min-of-2 for the multi-second iterative CTEs (a single throttle
      // spike costs whole seconds there); the sub-second majority gets one
      // sample — its spike exposure is bounded by its own duration
      val reps = if (name.startsWith("gr_") || name.startsWith("dd_")) 2 else 1
      val perRep = math.min(if (name.startsWith("gr_")) 60.0 else 40.0, remaining - 10)
      if (perRep > 2) worker.foreach(w => reportOracle(name, w.time(name, reps, perRep)))
    }

    // Pass 1: one sample of every query, with its PAIRED oracle sample(s)
    // (same query, same throttle window), in name order.
    val first = scala.collection.mutable.Map.empty[String, Double]
    ordered.foreach { case (name, fn) =>
      if (remaining <= 20) lock.synchronized { skipped += name }
      else {
        reclaim()
        runOne(name, fn, perQueryCap).foreach(first(name) = _)
        timeOraclePaired(name)
      }
    }

    // Pass 2: the rest of the budget buys extra samples up to each
    // query's [[maxSamples]] tier (cold mode: none), in rounds — every
    // query gets its second sample before any gets its third — and
    // within a round cheapest first by pass 1's numbers. The second
    // sample matters most: a query's pass-1 sample may pay a shared
    // build it happened to consume first, or a throttle window. A query
    // whose extra sample fails gets no more.
    val byCost = ordered.filter { case (name, _) => first.contains(name) }
      .sortBy { case (name, _) => (first(name), name) }
    val failed = scala.collection.mutable.Set.empty[String]
    if (!coldStore)
      for (k <- 2 to maxSamples(Double.MaxValue); (name, fn) <- byCost
           if k <= maxSamples(first(name)) && !failed(name) &&
             remaining > 25 + 2 * first(name)) {
        reclaim()
        if (runOne(name, fn, perQueryCap).isEmpty) failed += name
      }
    // One retry for a query whose only sample was watchdog-cancelled: on
    // a host with documented 10-20x throttling spikes a single
    // cancellation is usually a spike artifact (r4: dd_minhash_lsh
    // cancelled at 112 s while its strict superset dd_ngram_jaccard
    // finished in 4.7 s in the same sweep).
    ordered.foreach { case (name, fn) =>
      val cancelled = lock.synchronized(
        !timings.contains(name) && errors.get(name).exists(_.contains("SPARK_JOB_CANCELLED")))
      if (cancelled && remaining > 20) {
        reclaim()
        runOne(name, fn, perQueryCap)
      }
    }

    // catch-up pass: any oracle sample still missing (e.g. its paired
    // slot hit the budget guard) gets one attempt with what's left
    ordered.foreach { case (name, _) =>
      val missing = lock.synchronized(
        SparkEntry.oracleSql.contains(name) && !oracleT.contains(name) &&
          !errors.contains(s"oracle:$name"))
      if (missing && remaining > 15)
        worker.foreach(w => reportOracle(name, w.time(name, 1, math.min(40.0, remaining - 10))))
    }
    worker.foreach(_.close())

    emit(partial = lock.synchronized(skipped.nonEmpty))
    spark.stop()
    // spark.stop() dumps shutdown/cleanup noise on stderr AND stdout; the
    // driver reads a tail window, so make the JSON line the LAST stdout.
    println(lastJson.get())
    System.out.flush()
  }
}

/** Long-lived DuckDB oracle worker (driver-side python3+duckdb toolchain,
  * measurement only — absent toolchain means no oracle numbers, never a
  * bench failure). One process per bench run: views are created once,
  * then each `time(name)` request runs that query's oracle SQL reps
  * times with a per-rep `con.interrupt` watchdog and returns the best.
  * Keeping the worker alive is what lets the Spark sweep interleave
  * paired oracle samples instead of running a separate pass minutes
  * later in a different throttle window.
  */
private final class OracleWorker(proc: Process,
    writer: java.io.BufferedWriter, reader: java.io.BufferedReader) {
  @volatile private var alive = true

  /** Time one query's oracle: Right(best seconds) or Left(reason). */
  def time(name: String, reps: Int, perRepSec: Double): Either[String, Double] = synchronized {
    if (!alive) return Left("oracle worker unavailable")
    try {
      writer.write(s"$name\t$reps\t$perRepSec\n")
      writer.flush()
      // the child's own per-rep interrupt bounds its response time; the
      // poll deadline is a backstop for a hard-hung child
      val deadline = System.nanoTime() + ((reps * perRepSec + 20) * 1e9).toLong
      var line: String = null
      while (line == null && System.nanoTime() < deadline) {
        if (reader.ready()) line = reader.readLine()
        else Thread.sleep(20)
      }
      line match {
        case null =>
          alive = false
          proc.destroyForcibly()
          Left("oracle worker timed out")
        case l => l.split('\t') match {
          case Array(_, s) if s != "ERR" => Right(s.toDouble)
          case Array(_, _, why) => Left(why)
          case _ => Left("oracle query failed")
        }
      }
    } catch {
      case e: Throwable =>
        alive = false
        proc.destroyForcibly()
        Left(s"oracle worker died: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
    }
  }

  def close(): Unit = synchronized {
    try { writer.write("QUIT\n"); writer.flush() } catch { case _: Throwable => () }
    try proc.destroyForcibly() catch { case _: Throwable => () }
    alive = false
  }
}

private object OracleWorker {
  def start(sfDir: String, sqls: Seq[(String, String)]): Option[OracleWorker] = {
    if (sqls.isEmpty) return None
    try {
      def jq(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val sqlJson = sqls.map { case (k, v) => s"[${jq(k)},${jq(v)}]" }.mkString("[", ",", "]")
      val sqlFile = java.io.File.createTempFile("graft_oracle_", ".json")
      val pyFile = java.io.File.createTempFile("graft_oracle_", ".py")
      sqlFile.deleteOnExit(); pyFile.deleteOnExit()
      java.nio.file.Files.writeString(sqlFile.toPath, sqlJson)
      java.nio.file.Files.writeString(pyFile.toPath,
        """import sys, json, time, threading
          |import duckdb
          |sf, path = sys.argv[1], sys.argv[2]
          |con = duckdb.connect()
          |for t in ["region", "nation", "customer", "supplier", "part",
          |          "orders", "lineitem", "events", "documents", "embeddings"]:
          |    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
          |sqls = dict(json.load(open(path)))
          |print("READY", flush=True)
          |for line in sys.stdin:
          |    parts = line.rstrip("\n").split("\t")
          |    if not parts or parts[0] == "QUIT":
          |        break
          |    name, reps, per_rep = parts[0], int(parts[1]), float(parts[2])
          |    sql = sqls.get(name)
          |    if sql is None:
          |        print(f"{name}\tERR\tno oracle sql", flush=True)
          |        continue
          |    best = None
          |    err = None
          |    for r in range(reps):
          |        # per-rep interrupt: one pathological oracle query must
          |        # cost one slot, not the whole oracle side of the sweep
          |        timer = threading.Timer(per_rep, con.interrupt)
          |        timer.start()
          |        t0 = time.time()
          |        try:
          |            con.execute(sql).fetchall()
          |            dt = time.time() - t0
          |            best = dt if best is None else min(best, dt)
          |        except Exception as e:
          |            why = str(e).replace(chr(9), ' ').replace(chr(10), ' ')[:160]
          |            err = f"after {time.time() - t0:.1f}s: {why}"
          |        finally:
          |            timer.cancel()
          |    if best is not None:
          |        print(f"{name}\t{best:.3f}", flush=True)
          |    else:
          |        print(f"{name}\tERR\t{err or 'oracle query failed'}", flush=True)
          |""".stripMargin)
      val pb = new ProcessBuilder("python3", pyFile.getAbsolutePath,
        sfDir, sqlFile.getAbsolutePath)
      pb.redirectErrorStream(false)
      // stderr must be discarded, not left attached: an undrained pipe
      // fills its buffer if duckdb/python warns enough, blocking the
      // child and timing out every later paired sample
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      val writer = new java.io.BufferedWriter(new java.io.OutputStreamWriter(proc.getOutputStream))
      // wait for READY (view creation) with a hard deadline
      val deadline = System.nanoTime() + 60L * 1000000000L
      var ready = false
      var line: String = null
      while (!ready && System.nanoTime() < deadline) {
        if (reader.ready()) {
          line = reader.readLine()
          ready = line != null && line.startsWith("READY")
          if (line == null) throw new RuntimeException("oracle worker closed stdout")
        } else Thread.sleep(20)
      }
      if (!ready) { proc.destroyForcibly(); None }
      else Some(new OracleWorker(proc, writer, reader))
    } catch { case _: Throwable => None }
  }
}
