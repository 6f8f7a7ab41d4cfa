package org.apache.spark.sql

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals [[graft.Run]], the memo footprint report and the
  * store invalidation read. Spark keeps them `private[spark]` or
  * `private[sql]`, so this accessor lives in Spark's package, like
  * [[GraftStatsBarrier]]. It only reads, apart from the checkpoint
  * record [[noteCheckpoint]] keeps.
  */
object GraftRunAccess {

  /** Block until every event posted so far has reached every listener;
    * throws if the bus is still busy after a minute.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** The job tags a job was submitted under. */
  def jobTags(props: Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Catalyst phase ms of the execution `e` ends, when a
    * `QueryExecutionListener` would be told of it (a named action).
    */
  def phasesMs(e: SparkListenerSQLExecutionEnd): Option[Map[String, Long]] =
    if (e.executionName.isEmpty || e.qe == null) None
    else Some(e.qe.tracker.phases.map { case (k, p) => k -> p.durationMs })

  /** The RDD holding `df`'s blocks: a checkpoint's, or a persisted
    * relation's cached column buffers once built (asking for unbuilt
    * buffers would build them).
    */
  def blocksRddId(df: DataFrame): Option[Int] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ =>
        ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
          .map(_.cachedRepresentation.cacheBuilder)
          .filter(_.isCachedColumnBuffersLoaded)
          .map(_.cachedColumnBuffers.id)
    }
  }

  /** The input roots of each checkpoint's plan, keyed by the checkpoint
    * RDD. Weak keys: the record never keeps an RDD reachable, so the
    * ContextCleaner still frees a released checkpoint's blocks.
    */
  private val ckptRoots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Set[String]]())

  /** Record that checkpoint `ckpt` truncates `origin`'s plan: its
    * LogicalRDD leaf then reads what `origin` reads ([[inputRoots]]).
    */
  def noteCheckpoint(ckpt: DataFrame, origin: DataFrame): Unit =
    ckpt.asInstanceOf[classic.Dataset[Row]].queryExecution.logical match {
      case l: LogicalRDD => ckptRoots.put(l.rdd, inputRoots(origin))
      case _ => ()
    }

  /** The qualified root paths `df`'s plan reads: its file relations'
    * roots, plus, for each checkpoint leaf, the roots recorded when it
    * was taken — so the answer sees through any chain of checkpoints, on
    * whatever thread they were built. A leaf made from a bare RDD reads
    * no roots.
    */
  def inputRoots(df: DataFrame): Set[String] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
      .collectWithSubqueries {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          r.location.rootPaths.map(_.toString).toSet
        case l: LogicalRDD => Option(ckptRoots.get(l.rdd)).getOrElse(Set.empty[String])
      }.flatten.toSet
}
