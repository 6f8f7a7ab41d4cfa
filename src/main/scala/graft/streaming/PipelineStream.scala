package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's full ingest topology composed as SINGLE streaming
  * plans (scraper → Kafka → consumer → sinks;
  * reference: consumer/kafka_consumer.py + spark-streaming-pyspark/
  * spark_streaming.py): Kafka-shaped wire frames → typed parse with
  * corrupt-payload drop ([[EventSource.parseWire]]) → watermarked
  * first-wins ingest dedup ([[DedupStream]]) → a stateful consumer
  * ([[SessionStream]] / [[Scd2Stream]] / the windowed
  * [[UpsertSink]] store). Each stage is spec-tested alone; composing
  * them in ONE query is where watermark/state interactions live
  * (PipelineStreamSpec drives a late straggler across all three stage
  * boundaries), and it is the deployment shape — one source read, one
  * checkpointed query per sink, no intermediate topics.
  *
  * Scale notes: the composite inherits each stage's state bounds —
  * dedup keys live to the watermark horizon, session/SCD2 state is one
  * accumulator per ACTIVE entity — and chains them in one job: no
  * re-shuffle between dedup and the grouped stage beyond the user_id
  * exchange the stateful operator needs anyway.
  */
object PipelineStream {

  /** Parse + first-wins dedup on event_id — the shared front of every
    * consumer below. Batch frames take the same path (plain
    * dropDuplicates), which is how the spec's batch twins see IDENTICAL
    * upstream semantics.
    */
  def dedupedEvents(wire: DataFrame, watermark: String): DataFrame =
    DedupStream.dedup(EventSource.parseWire(wire), "ts", watermark, Seq("event_id"))

  /** Wire → dedup → stateful 30-min-gap sessionization. */
  def sessions(wire: DataFrame, watermark: String): Dataset[SessionRow] = {
    val s = wire.sparkSession
    import s.implicits._
    val ev = dedupedEvents(wire, watermark)
      .select($"user_id", $"event_id", $"ts", $"value").as[SessionEvent]
    if (wire.isStreaming) SessionStream.sessionizeStream(ev)
    else SessionStream.sessionizeBatch(ev)
  }

  /** Wire → dedup → purchase filter → streaming SCD2 dimension build. */
  def scd2(wire: DataFrame, watermark: String): Dataset[Scd2Out] = {
    val s = wire.sparkSession
    import s.implicits._
    val ev = dedupedEvents(wire, watermark)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value").as[TierEvent]
    if (wire.isStreaming) Scd2Stream.scd2Stream(ev)
    else Scd2Stream.scd2Batch(ev)
  }

  /** Wire → dedup → windowed aggregate → key-wise upsert store: the
    * serving-sink leg of the topology (the reference's Mongo upserts).
    */
  def upserts(wire: DataFrame, storeId: String, queryName: String,
      watermark: String, win: String = "1 hour",
      checkpoint: Option[String] = None): StreamingQuery =
    UpsertSink.upsertAggQuery(
      EventStream.windowAggOf(
        dedupedEvents(wire, watermark).select("ts", "event_type", "value"), win),
      storeId, queryName, checkpoint)

  /** Wire → dedup → per-micro-batch ENRICHMENT against a PUBLISHED
    * bucketed store (r15) — the streaming consumer of the train-once
    * artifacts: a foreachBatch leg joins each arriving batch against
    * [[graft.sources.IndexStore]]'s served table on its bucket key, so
    * the static side arrives pre-shuffled off disk (the same
    * exchange-free scan the batch twin gets) and the stream pays only
    * its own keyed exchange. The session's consumer store
    * ([[graft.sources.IndexStore.dir]]) is consulted PER BATCH: a store
    * republished mid-stream (the blue/green swap) is picked up on the
    * next micro-batch without restarting the query, and an unpublished
    * or serve-REFUSED store fails the batch loudly with
    * [[graft.sources.IndexStore.serve]]'s reason — an enrichment leg
    * silently joining nothing would corrupt the sink. The enriched batch
    * lands through `sink` (the reference's Mongo-write position).
    */
  def enriched(wire: DataFrame, storeKey: String, joinCol: String,
      queryName: String, watermark: String,
      checkpoint: Option[String] = None)(sink: DataFrame => Unit): StreamingQuery = {
    val s = wire.sparkSession
    // the served relation is CACHED across micro-batches and revalidated
    // by ONE tiny sidecar read per batch (a full serve re-lists the
    // whole source corpus for the staleness check — per-batch that
    // would dominate small-batch latency at real file counts). The
    // revalidation token is the sidecar's publish-generation VERSION
    // uuid, written fresh by every publish/append/compact — NOT the
    // sidecar mtime, which on coarse-resolution (1s) filesystems reads
    // 'unchanged' for a republish landing in the same second as the
    // prior publish, leaving the cached plan pointing at files the swap
    // just deleted (r15 ADVICE). The source-STALENESS check therefore
    // runs when the serve is (re)established, not per batch — an
    // in-place source rewrite surfaces at the next republish or leg
    // restart, the documented maintenance flow.
    var servedCache: Option[(String, DataFrame)] = None
    val w = dedupedEvents(wire, watermark)
      .writeStream.queryName(queryName).outputMode("append")
    val ws = checkpoint.fold(w)(c => w.option("checkpointLocation", c))
    ws.foreachBatch { (batch: DataFrame, _: Long) =>
      val ver = graft.sources.IndexStore.metaVersion(s, storeKey)
      val served = servedCache match {
        case Some((t, df)) if ver.contains(t) => df
        case _ =>
          val df = graft.sources.IndexStore.dir(s)
            .map(graft.sources.IndexStore.serve(s, _, storeKey))
            .getOrElse(throw new IllegalStateException(
              s"enrichment store '$storeKey' is not served: the session " +
                "names no index store"))
          servedCache = ver.map((_, df))
          df
      }
      sink(batch.join(served, joinCol))
    }.start()
  }
}
