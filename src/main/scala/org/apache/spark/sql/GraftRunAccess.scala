package org.apache.spark.sql

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals [[graft.Run]] and the memo footprint report read.
  * Spark keeps them `private[spark]` or `private[sql]`, so this accessor
  * lives in Spark's package, like [[GraftStatsBarrier]]. It only reads.
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
}
