package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation points with a fault-tolerance switch.
  *
  * Iterative operators (graph rounds, per-round state) and shared builds
  * truncate lineage at every round or they re-analyze an ever-growing
  * plan (SURVEY §5: re-analysis reached 12s/round by iteration 10
  * without it). HOW they truncate is a deployment decision:
  *
  *  - `localCheckpoint` (the default): blocks live on executor storage —
  *    no distributed-FS round trip, the right choice for a single-JVM
  *    bench and for clusters where re-running a lost query is cheaper
  *    than checkpoint I/O. An executor loss kills the blocks AND the
  *    truncated lineage, failing the query.
  *  - reliable `checkpoint` (`spark.graft.reliableCheckpoint=true`):
  *    blocks go to the SparkContext checkpoint directory (HDFS/object
  *    store). At 100 TB — hours-long iterative jobs on preemptible
  *    fleets — executor loss is an expectation, not an accident, and
  *    this knob is the documented switch (SURVEY §5 "reliable
  *    checkpoint() replaces localCheckpoint for fault tolerance").
  *    Requires `sc.setCheckpointDir` (the submitter's one-time setup).
  *
  * Both forms are LAZY (eager = false): the first action materializes,
  * so checkpoint placement never adds a materialization barrier. The
  * knob mirrors `spark.graft.stateBroadcast` — session-scoped, no
  * recompile, asserted equivalent by CkptSpec (identical result hashes
  * both modes).
  */
object Ckpt {
  val Conf = "spark.graft.reliableCheckpoint"

  def reliable(s: SparkSession): Boolean =
    s.conf.get(Conf, "false").toBoolean

  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    /** Truncate lineage here: lazy local checkpoint, or lazy reliable
      * checkpoint under the [[Ckpt.Conf]] knob. The truncated plan no
      * longer names its inputs, so its input roots are recorded against
      * the checkpoint ([[org.apache.spark.sql.GraftRunAccess.inputRoots]]
      * reads them back).
      *
      * The checkpoint forwards the origin plan's Statistics; a round
      * plan that references the previous round's checkpoint ≥ 2 times
      * SQUARES that sizeInBytes per round, and past ~20 rounds the
      * planner is doing million-digit BigInteger arithmetic (measured:
      * 0.4 s → 90 s per fixed-shape round). The barrier clamps the
      * inherited stats on their first implausible crossing — see
      * [[org.apache.spark.sql.GraftStatsBarrier]].
      */
    def ckpt: DataFrame = {
      val c = org.apache.spark.sql.GraftStatsBarrier.clampOriginStats(
        if (reliable(df.sparkSession)) df.checkpoint(false)
        else df.localCheckpoint(false))
      org.apache.spark.sql.GraftRunAccess.noteCheckpoint(c, df)
      c
    }
  }
}
