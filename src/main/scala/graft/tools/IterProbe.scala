package graft.tools
import graft._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only: min-of-N timing for named registered queries, each sample
  * forced with Bench's noop write after clearCache + GC, PLUS
  * deterministic scheduler counters (jobs / stages / tasks / shuffle
  * bytes) — the host throttles 10-20x intermittently, so plan-shape
  * counters are the only stable way to compare two code states.
  */
object IterProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("gr_pagerank")
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufW = new AtomicLong(0L)
    val dumpJobs = sys.env.get("ITERPROBE_DUMP_JOBS").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (dumpJobs) {
          val site = j.stageInfos.headOption.map(_.name).getOrElse("")
          jobStart.put(j.jobId, (System.nanoTime(), s"stages=${j.stageInfos.size} $site"))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (dumpJobs) {
        Option(jobStart.remove(j.jobId)).foreach { case (t0, what) =>
          println(f"JOB ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3fs $what")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // one warmup so the first timed query doesn't pay session setup
    try SparkEntry.queries("q1_pricing_summary")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val resolved = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.contains) }
    resolved.foreach { case (name, fn) =>
      var counters = (0, 0, 0, 0L)
      val ts = (1 to reps).map { i =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200) // let listener events drain so counters are per-sample
        jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0L)
        val t0 = System.nanoTime()
        // the noop write Bench and ScaleTrend force with: count() would
        // let Catalyst prune sorts and output columns, so the counters
        // would describe a different plan from the one they time
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        counters = (jobs.get(), stages.get(), tasks.get(), shufW.get())
        sec
      }
      val (j, st, tk, sw) = counters
      println(f"ITERPROBE $name%-24s min=${ts.min}%6.2f  jobs=$j%3d stages=$st%3d tasks=$tk%4d shufMB=${sw / 1e6}%7.2f  all=${ts.map(t => f"$t%5.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
