package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftRunAccess, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What one run cost ([[Run.measure]]), the batch twin of
  * [[streaming.StreamObservability.LegStats]]. The wall splits into
  * construction (building the DataFrame, with every eager action the
  * build starts: `constructJobs` of the `jobs`) and forcing. `stages`
  * ran (skipped ones are not counted); `executions` are the Catalyst
  * executions a `QueryExecutionListener` is told of, with their phase
  * times. Executor, shuffle and spill figures sum task metrics;
  * `taskMaxS`, the longest task, is the straggler signal.
  * `persistedRdds` is the change in the context's persisted RDDs.
  */
final case class RunRecord(
    constructS: Double, forceS: Double,
    jobs: Int, constructJobs: Int, stages: Int, tasks: Int,
    executions: Int, analysisS: Double, optimizationS: Double, planningS: Double,
    runS: Double, cpuS: Double, taskMaxS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    persistedRdds: Int) {

  def wallS: Double = constructS + forceS

  /** Every field, and `wallS`, as one JSON object. */
  def json: String =
    Json.obj(productElementNames.zip(productIterator.map(_.toString)).toSeq :+
      ("wallS" -> wallS.toString))

  /** One human-readable line (MB = 2^20 bytes). */
  def line: String =
    f"wall=$wallS%6.2f s (construct $constructS%5.2f) jobs=$jobs%3d (construct $constructJobs%3d) " +
      f"stages=$stages%3d tasks=$tasks%4d execs=$executions%3d " +
      f"catalyst=${analysisS + optimizationS + planningS}%5.2f s " +
      f"run=$runS%6.2f s cpu=$cpuS%6.2f s taskMax=$taskMaxS%5.2f s " +
      f"shufR=${shuffleReadBytes / 1048576.0}%6.2f shufW=${shuffleWriteBytes / 1048576.0}%6.2f " +
      f"spill=${spillBytes / 1048576.0}%6.2f MB rdds=$persistedRdds%+d"
}

/** The one way to run and measure work on a session. [[measure]]
  * registers one listener for the length of the call only, so a session
  * that never calls it pays nothing. Its jobs and SQL executions carry a
  * job tag of the call's own: work of other threads or calls is not
  * counted, while a pool thread the work starts (`Ops.inParallel`)
  * inherits the tag with the caller's local properties.
  */
object Run {
  private val calls = new AtomicLong

  /** Run `build`, then `force` on what it built; return the result and
    * what the two cost. What either throws is rethrown, the listener and
    * the tags removed.
    */
  def measure[A, B](spark: SparkSession)(build: => A)(force: A => B): (B, RunRecord) = {
    val sc = spark.sparkContext
    val tag = s"graft-run-${calls.incrementAndGet()}"
    val building = s"$tag-construct"
    val tally = new Tally(tag, building)
    val rdds0 = sc.getPersistentRDDs.size
    try {
      sc.addSparkListener(tally)
      sc.addJobTags(Set(tag, building))
      val t0 = System.nanoTime()
      val built = try build finally sc.removeJobTag(building)
      val t1 = System.nanoTime()
      val out = force(built)
      val t2 = System.nanoTime()
      GraftRunAccess.drain(sc)
      (out, tally.record((t1 - t0) / 1e9, (t2 - t1) / 1e9, sc.getPersistentRDDs.size - rdds0))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(tally)
    }
  }

  /** Counters of one [[measure]] call, fed by the bus thread. */
  private final class Tally(tag: String, building: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private val executionIds = mutable.Set.empty[Long]
    private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var jobs, constructJobs, stages, tasks, executions = 0
    private var runMs, cpuNs, taskMaxMs, shuffleRead, shuffleWrite, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = GraftRunAccess.jobTags(e.properties)
      if (tags(tag)) {
        jobs += 1
        if (tags(building)) constructJobs += 1
        stageIds ++= e.stageIds
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds(e.stageInfo.stageId)) stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (stageIds(e.stageId)) tasks += 1
      if (stageIds(e.stageId) && m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        taskMaxMs = math.max(taskMaxMs, m.executorRunTime)
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags(tag) => executionIds += s.executionId
        case x: SparkListenerSQLExecutionEnd if executionIds.remove(x.executionId) =>
          GraftRunAccess.phasesMs(x).foreach { ph =>
            executions += 1
            ph.foreach { case (phase, ms) => phaseMs(phase) += ms }
          }
        case _ => ()
      }
    }

    def record(constructS: Double, forceS: Double, persistedRdds: Int): RunRecord = synchronized {
      RunRecord(constructS, forceS, jobs, constructJobs, stages, tasks, executions,
        phaseMs("analysis") / 1e3, phaseMs("optimization") / 1e3, phaseMs("planning") / 1e3,
        runMs / 1e3, cpuNs / 1e9, taskMaxMs / 1e3, shuffleRead, shuffleWrite, spill, persistedRdds)
    }
  }
}
