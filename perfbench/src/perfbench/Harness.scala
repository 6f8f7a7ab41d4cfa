package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicBoolean
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, MatStore, QueryDef, Registry}

/** One workload: a rule over query names, and the sample of its queries
  * a run measures.
  */
final case class Workload(name: String, rule: Regex, sampled: String => Boolean)

/** The benchmark's three workload rules. They must partition
  * `Registry.all`, so every registered query belongs to exactly one
  * workload and a new query cannot slip through unassigned. A run
  * measures a fixed, seed-independent sample of its workload (see
  * perfbench/README.md for why and how it is drawn); `graph` is
  * partitioned but not measured.
  */
object Workloads {
  /** Keep one name in `n`, by the CRC-32 of the name: stable when other
    * queries are added or removed.
    */
  def oneIn(n: Int)(name: String): Boolean = {
    val crc = new java.util.zip.CRC32
    crc.update(name.getBytes("UTF-8"))
    crc.getValue % n == 0
  }

  val all: Seq[Workload] = Seq(
    Workload("panel", "(?!sim_ivf_append$)(q\\d*|an|etl|sent|tx|dd|sim|mm|st)_.*".r, oneIn(16)),
    Workload("graph", "gr_.*".r, _ => false),
    // the one-day and seven-day ingest arcs each cost more than a whole
    // timed pass of the rest of the sample
    Workload("ingest", "ops_.*|sim_ivf_append".r,
      n => oneIn(2)(n) && n != "ops_day" && n != "ops_week"))

  /** Queries of each workload, in registry order. Throws when a query
    * matches no rule or more than one.
    */
  def partition(defs: Seq[QueryDef]): Map[String, Seq[QueryDef]] = {
    val bad = defs.flatMap { d =>
      val hits = all.collect { case w if w.rule.matches(d.name) => w.name }
      if (hits.size == 1) None else Some(s"${d.name} matches ${hits.mkString("[", ",", "]")}")
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(
        "every query must match exactly one workload rule: " + bad.mkString("; "))
    all.map(w => w.name -> defs.filter(d => w.rule.matches(d.name))).toMap
  }

  /** The queries a run of `workload` measures. */
  def measured(workload: String): Seq[QueryDef] = {
    val w = all.find(_.name == workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    partition(Registry.all)(workload).filter(d => w.sampled(d.name))
  }
}

/** Highest heap in use right after a collection since the last `reset`,
  * read from the JVM's collection notifications: unlike the heap retained
  * at the end of a run, it sees what a query holds only while it runs.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }
  def mb: Double = synchronized { peak / 1048576.0 }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { peak = math.max(peak, used) }
    }
}

/** One timed interval: a query, its construction, one of its jobs, or
  * one Catalyst phase of one of its executions. Spans of one query share
  * `id`; times are epoch milliseconds.
  */
final case class Span(pass: Int, id: Int, kind: String, name: String, start: Long, end: Long)

/** Per-layer counters and spans, fed by Spark's listener bus. Registered
  * only for traced passes; everything is read after the bus drains.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  val spans = ArrayBuffer.empty[Span]
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  @volatile var pass = 0

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  def reset(): Unit = synchronized { counts.clear(); jobStarts.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { t0 =>
      spans += Span(pass, -1, "job", s"job ${e.jobId}", t0, e.time)
      add("scheduler.job_s", (e.time - t0) / 1e3)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("scheduler.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      add("scheduler.delay_s", math.max(0L, delay) / 1e3)
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      counts("executor.peak_mem_mb") =
        math.max(counts.getOrElse("executor.peak_mem_mb", 0.0), m.peakExecutionMemory / 1048576.0)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("Tables.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("Tables.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    add("catalyst.executions", 1)
    for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_s",
        "optimization" -> "catalyst.optimization_s", "planning" -> "catalyst.planning_s")) {
      qe.tracker.phases.get(phase).foreach { p =>
        add(key, p.durationMs / 1e3)
        spans += Span(pass, -1, "catalyst", phase, p.startTimeMs, p.endTimeMs)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Benchmark main: one workload, one closed-loop client. See
  * perfbench/README.md for the load model and every metric.
  *
  * Usage: perfbench.Harness --workload w --seed n --seconds s --trace 0|1
  *   --cpus n --data dir --out dir --local-dir dir --warehouse dir
  *   --result file --spans file
  *   perfbench.Harness --oracle-sql file   (dump the oracle SQL map)
  */
object Harness {
  /** A query still running after this long is cancelled and counted as
    * failed; the slowest measured query takes a few seconds.
    */
  val QueryLimitMs = 60000L

  /** A run keeps the fastest of at least four timed passes: the JIT is
    * still warming through the first two, and a burst of host load during
    * one pass must not set the run's number.
    */
  val MinTimedPasses = 4

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString

  private def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opts.get("oracle-sql") match {
      case Some(path) => dumpOracle(path)
      case None => run(opts)
    }
  }

  /** Oracle SQL of every query some workload measures. */
  private def dumpOracle(path: String): Unit = {
    val m = Workloads.all.flatMap(w => Workloads.measured(w.name))
      .flatMap(d => d.oracle.map(sql => jstr(d.name) + ":" + jstr(sql)))
    java.nio.file.Files.writeString(new File(path).toPath, m.mkString("{", ",\n", "}\n"))
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = opts("data")
    val out = opts("out")
    val cpus = opts("cpus").toInt
    val result = new PrintWriter(opts("result"), "UTF-8")
    def emit(fields: (String, String)*): Unit = { result.println(jobj(fields)); result.flush() }

    val queries = Workloads.measured(workload)
    require(queries.nonEmpty, s"workload '$workload' measures no query")

    val s0 = System.nanoTime()
    val spark: SparkSession = GraftSession.builder(cpus)
      .config("spark.local.dir", opts("local-dir"))
      .config("spark.sql.warehouse.dir", opts("warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - s0) / 1e9

    // java.util.Random's first draws are alike for adjacent seeds; mixing
    // the seed first gives each seed its own query orders
    val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    def order(): Seq[QueryDef] = rnd.shuffle(queries)

    var qid = 0
    val tracer = new Tracer
    val querySpans = ArrayBuffer.empty[Span]
    val heapPeak = new HeapPeak

    /** One query, closed loop: construct, then force every output column
      * with a noop write (or a parquet write for the check pass). Returns
      * the latency in ms, or None if it threw or was cancelled.
      */
    def runQuery(pass: Int, q: QueryDef, sink: Option[String]): Option[Double] = {
      qid += 1
      val group = s"perfbench-$qid"
      val done = new AtomicBoolean(false)
      sc.setJobGroup(group, q.name, interruptOnCancel = true)
      val watchdog = new Thread(() =>
        try { Thread.sleep(QueryLimitMs); if (!done.get) sc.cancelJobGroup(group) }
        catch { case _: InterruptedException => () })
      watchdog.setDaemon(true)
      watchdog.start()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = q.run(spark, data)
        val w1 = System.currentTimeMillis()
        sink match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${q.name}")
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val w2 = System.currentTimeMillis()
        querySpans += Span(pass, qid, "query", q.name, w0, w2)
        querySpans += Span(pass, qid, "construct", q.name, w0, w1)
        Some(ms)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${q.name} failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
          None
      } finally {
        done.set(true)
        watchdog.interrupt()
        sc.clearJobGroup()
      }
    }

    /** Every query once, from declared inputs: memos and caches of the
      * previous pass are dropped first.
      */
    def pass(p: Int, qs: Seq[QueryDef], sink: Option[String],
        started: () => Unit = () => ()): (Double, Seq[(String, Double)], Seq[String]) = {
      MatStore.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      started()
      val lat = ArrayBuffer.empty[(String, Double)]
      val failed = ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      qs.foreach { q => runQuery(p, q, sink) match {
        case Some(ms) => lat += q.name -> ms
        case None => failed += q.name
      } }
      ((System.nanoTime() - t0) / 1e9, lat.toSeq, failed.toSeq)
    }

    // warm-up: the check pass writes every output for the oracle check
    // and, on the way, warms the JIT, the codegen cache and the table
    // footers; it ends before the first timed query
    val (_, checkLat, checkFailed) = pass(0, order(), Some(out))
    emit("kind" -> jstr("check"), "attempted" -> (checkLat.size + checkFailed.size).toString,
      "latencies_ms" -> jobj(checkLat.map { case (n, ms) => n -> jnum(ms) }),
      "failed" -> checkFailed.map(jstr).mkString("[", ",", "]"),
      "queries" -> queries.map(q => jstr(q.name)).mkString("[", ",", "]"))
    emit("kind" -> jstr("setup"), "session_start_s" -> jnum(sessionStart),
      "ready_epoch_ms" -> System.currentTimeMillis().toString)

    val tmpRoots = Seq(new File(System.getProperty("java.io.tmpdir")), new File(opts("warehouse")))
    def storeFootprint(): (Int, Long) = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
      val files = tmpRoots.flatMap(walk).filterNot(f => f.getName.endsWith(".so") || f.getName.endsWith(".lck"))
      (files.size, files.map(_.length).sum)
    }

    val timed0 = System.nanoTime()
    var p = 0
    // trace runs alternate untraced and traced passes, starting and ending
    // untraced, so each traced pass can be compared with its neighbours
    while (p < MinTimedPasses || (System.nanoTime() - timed0) / 1e9 < seconds ||
        (traced && p % 2 == 0)) {
      p += 1
      val tracedPass = traced && p % 2 == 0
      var rdds0 = 0
      var cg0 = 0L
      val (wall, lat, failed) = pass(p, order(), None, () => {
        heapPeak.reset()
        rdds0 = sc.getPersistentRDDs.size
        cg0 = Internals.codegenCompiles
        if (tracedPass) {
          tracer.reset(); tracer.pass = p
          sc.addSparkListener(tracer); spark.listenerManager.register(tracer)
        }
      })
      val fields = ArrayBuffer[(String, String)](
        "kind" -> jstr("pass"), "pass" -> p.toString, "traced" -> tracedPass.toString,
        "wall_s" -> jnum(wall), "attempted" -> (lat.size + failed.size).toString,
        "failed" -> failed.map(jstr).mkString("[", ",", "]"),
        "latencies_ms" -> jobj(lat.map { case (n, ms) => n -> jnum(ms) }))
      if (tracedPass) {
        Internals.drainListeners(sc)
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
        val (files, bytes) = storeFootprint()
        val counts = tracer.synchronized(tracer.counts.toSeq) ++ Seq(
          "jvm.peak_heap_mb" -> heapPeak.mb,
          "codegen.compiles" -> (Internals.codegenCompiles - cg0).toDouble,
          "Ckpt.persisted_rdds" -> (sc.getPersistentRDDs.size - rdds0).toDouble,
          "MatStore.cached_mb" -> sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0,
          "IndexStore.files" -> files.toDouble,
          "IndexStore.footprint_mb" -> bytes / 1048576.0)
        fields += "counts" -> jobj(counts.map { case (k, v) => k -> jnum(v) })
      }
      emit(fields.toSeq: _*)
    }

    // the memo store still holds every build of the last pass, so the heap
    // left after full collections now is what the session retains between
    // passes. Pending listener events still reference the pass's plans, and
    // each collection lets the ContextCleaner release more blocks, so drain
    // and collect until two readings agree.
    Internals.drainListeners(sc)
    val heap = ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    val hs = ArrayBuffer(usedAfterGc())
    while (hs.size < 3 || (hs.size < 8 && math.abs(hs(hs.size - 2) - hs.last) > 0.5)) {
      Thread.sleep(300)
      hs += usedAfterGc()
    }
    emit("kind" -> jstr("heap"), "heap_mb" -> jnum(hs.last))

    if (traced) {
      // attribute job and Catalyst spans to the query whose span holds
      // their start: the client is closed loop, so queries never overlap
      val qs = querySpans.filter(_.kind == "query").sortBy(_.start)
      val starts = qs.map(_.start).toArray
      def owner(t: Long): Int = {
        val i = java.util.Arrays.binarySearch(starts, t)
        val j = if (i >= 0) i else -i - 2
        if (j >= 0 && t <= qs(j).end) qs(j).id else -1
      }
      val w = new PrintWriter(opts("spans"), "UTF-8")
      (querySpans.filter(_.pass > 0) ++ tracer.spans.map(s => s.copy(id = owner(s.start)))).foreach { s =>
        w.println(jobj(Seq("pass" -> s.pass.toString, "id" -> s.id.toString, "kind" -> jstr(s.kind),
          "name" -> jstr(s.name), "start_ms" -> s.start.toString, "end_ms" -> s.end.toString)))
      }
      w.close()
    }
    result.close()
    spark.stop()
  }
}
