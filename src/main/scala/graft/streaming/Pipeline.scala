package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.store.KeyedParquetTable

/** Slice 0 (SURVEY.md §7.2) — the full resident pipeline wired end-to-end:
  *
  *   raw envelope JSON stream → unnest txs (P1) → event time (P3) →
  *   dedup by hash (P2, 3 h) → 1-min window agg w/ 60 s watermark (A1) →
  *   keyed upsert into the agg table (S6)
  *
  * Mirrors the reference chain
  * ingestion-worker → stream_processing Lambda → Flink → feature store
  * (doc/INGESTION.md:6-17) as ONE Structured Streaming query — the service
  * boundaries collapse into Spark's shuffle between the stateless map stage
  * and the stateful window-agg stage.
  */
object Pipeline {

  /** Transform half: raw JSON envelope strings → per-minute agg rows.
    * Streaming-compatible (every operator is incremental).
    *
    * One watermark governs both stateful operators (Spark disallows
    * redefining it mid-query): duplicates arriving within the lateness
    * horizon are caught by the dedup state; duplicates arriving later carry
    * an event time already behind the watermark and are dropped as late rows
    * — so admission stays exactly-once end-to-end. The reference's exact
    * 3 h *processing-time* TTL is available separately as
    * [[StreamDedup.processingTimeTtl]]. */
  def aggregates(rawEnvelopes: DataFrame, jsonCol: String = "value",
                 lateness: String = "60 seconds"): DataFrame = {
    val txs = Ingest.withEventTime(Ingest.unnestTxs(rawEnvelopes, jsonCol))
    val deduped = txs.withWatermark("tx_time", lateness)
      .dropDuplicatesWithinWatermark(Seq("hash"))
    StreamMinuteAggregate.onWatermarked(deduped, "tx_time", "fee")
  }

  /** Sink half: update-mode upsert into the keyed table via foreachBatch
    * (the reference's put_record-overwrites-by-tx_minute semantics,
    * delivery_stream_to_featurestore/main.py:54-62).
    *
    * `bulk = true`: the update batch arrives in shuffle-partition layout
    * (`spark.sql.shuffle.partitions` state partitions, nproc under
    * `LocalSession`), so without hour colocation EVERY touched hour dir gets
    * up to that many tiny files PER batch — a 15 s live trigger touches
    * 1-2 windows and doesn't care, but an AvailableNow REPLAY batch spans
    * days (hundreds of dirs × partitions → tens of thousands of files per replay;
    * measured as the dominant e2e_* wall cost at sf0.1, file I/O not
    * triggers). The colocation exchange moves only the aggregate rows —
    * for the live trigger that's a few rows, for a replay batch ≤ one row
    * per open minute — never event rows. */
  def writer(agg: DataFrame, table: KeyedParquetTable,
             checkpoint: String,
             trigger: Trigger = Trigger.ProcessingTime("15 seconds")): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.upsert(batch, batchId, bulk = true) }

  /** Convenience: wire transform + sink and start. */
  def start(rawEnvelopes: DataFrame, table: KeyedParquetTable,
            checkpoint: String): StreamingQuery =
    writer(aggregates(rawEnvelopes), table, checkpoint).start()
}
