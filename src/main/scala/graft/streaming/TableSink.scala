package graft.streaming

import graft.medallion.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once streaming sink into a [[graft.medallion.GraftTable]].
  *
  * Structured Streaming's sink contract is at-least-once: after a crash
  * between a batch's side effect and the offset-log update, the
  * restarted query re-runs the batch with the SAME `batchId`. The sink
  * turns that into exactly-once by committing each batch through
  * [[GraftTable.append]] under a txn ledger entry — the commit records
  * (`appId`, `batchId`) as a txn action in the table's log, and a
  * replayed batch id is a no-op; identity and generated columns hold
  * as on any append. End-to-end this is the standard two-ledger
  * protocol (streaming checkpoint tracks offsets, table log tracks
  * which batches landed) [Armbrust et al., VLDB 2020]; the reference's
  * `kafka_to_bronze` pipeline gets the same guarantee only from Kafka
  * consumer-group offsets + file overwrite.
  *
  * 100 TB shape: the data path is an ordinary distributed parquet write
  * of the micro-batch (full executor parallelism); the idempotence check
  * is one driver-side log read — O(commits since checkpoint), never
  * O(rows). One log-structured commit per micro-batch also means readers
  * NEVER see a torn batch: they resolve a snapshot, not a directory
  * listing racing in-flight part files.
  */
object TableSink {

  /** The per-batch write: the `writeStream.format("graft-table")` sink's
    * body, composable into foreachBatch, callable to simulate replay. */
  def writerFor(table: GraftTable, appId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => { table.appendIdempotent(batch, appId, batchId); () }

  /** Start streaming `df` into the table at `tablePath`: the
    * `writeStream.format("graft-table")` sink with its options set.
    *
    * `appId` names THIS query's txn ledger in the table log — stable
    * across restarts (pass the same id), unique per logical query (two
    * different queries sharing an id would suppress each other's
    * batches). The appId's lifetime follows the CHECKPOINT's: batch ids
    * are assigned by the streaming checkpoint, so starting over with a
    * fresh checkpoint location restarts them at 0 — pair that with a
    * fresh appId or the old ledger's high-water mark will suppress the
    * new query's early batches. The default trigger drains available
    * input and stops (backfill shape); pass `Trigger.ProcessingTime(...)`
    * to run continuously. */
  def start(
      df: DataFrame, tablePath: String, appId: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("graft-table")
      .option("path", tablePath)
      .option("appId", appId)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
