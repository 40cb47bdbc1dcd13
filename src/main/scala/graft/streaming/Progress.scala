package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch progress card over Structured Streaming's own telemetry —
  * the reference publishes per-batch progress counters (total / processed /
  * rate) through its BatchProgress callback (reference:
  * internal/sync/batch.go:62-71); the Spark-native equivalent is
  * [[org.apache.spark.sql.streaming.StreamingQueryProgress]], which already
  * carries rows, per-component durations, throughput and state-store size
  * for every micro-batch. This card projects that into the fields an
  * operator actually alerts on: input rows, batch latency, rows/sec, and
  * keyed-state footprint (rows + bytes — the number that grows when a
  * watermark is mis-set and state never expires).
  *
  * Everything here is driver-side telemetry (no data-plane work, no
  * collect of query results), so the card is free at any scale: at 100 TB
  * the SAME per-batch objects arrive through
  * `StreamingQueryListener.onQueryProgress` and feed a metrics pipeline;
  * this pull-based form is the test/CLI surface over identical numbers.
  */
object Progress {

  /** One completed micro-batch. `stateRows`/`stateMemoryBytes` are zero for
    * stateless sinks (e.g. the CDC foreachBatch path, whose state lives in
    * the state TABLE, not the state store — SURVEY.md §7.4's inversion).
    */
  final case class BatchCard(
      batchId: Long,
      inputRows: Long,
      processedRowsPerSec: Double,
      batchDurationMs: Long,
      stateRows: Long,
      stateMemoryBytes: Long)

  /** One card per completed micro-batch, oldest first. Idle (zero-input)
    * batches — watermark-advance ticks, empty triggers — are dropped, so
    * bounds pinned on the card are about batches that did work.
    */
  def card(q: StreamingQuery): Seq[BatchCard] =
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.batchId)
      .map { p =>
        val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        BatchCard(
          batchId = p.batchId,
          inputRows = p.numInputRows,
          processedRowsPerSec = p.processedRowsPerSecond,
          batchDurationMs = p.batchDuration,
          stateRows = state.map(_.numRowsTotal).sum,
          stateMemoryBytes = state.map(_.memoryUsedBytes).sum)
      }
}
