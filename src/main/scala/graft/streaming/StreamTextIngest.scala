package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sinks.Sink

/** Continuous document ingest into a persisted inverted index — the
  * write-side streaming twin of [[StreamTextServe]], completing the text
  * leg's lifecycle exactly like [[StreamAnnIngest]] completes the IVF
  * leg's: offline build ([[Sink.writeTextIndex]]), online ADD (this —
  * new docs from a stream tokenize into the ingested layout and are
  * immediately BM25/phrase-searchable through [[Sink.readTextIndex]]),
  * online serve ([[StreamTextServe]]), threshold-gated maintenance
  * ([[Sink.compactTextIndexIfNeeded]], run by this writer's own
  * foreachBatch thread — the single-maintainer contract holds by
  * construction because the one thread that appends is the one that
  * compacts).
  *
  * Exactly-once by the index's commit log: each micro-batch lands via
  * [[Sink.appendTextIndex]], whose `add` log entry is written LAST and
  * commits the batch keyed on the replay-stable `batch_id`. A
  * kill/restart re-running an in-flight batch without an entry
  * overwrites its own directories and commits it; a replay of a batch
  * the log holds, or that a compaction absorbed (its docs already live
  * in base postings), is skipped. Both spec-asserted with real kills +
  * replays.
  *
  * 100 TB shape: per batch, one tokenize pass over the NEW docs and one
  * partitioned write of batch-sized postings — index size never enters
  * the ingest cost; the gated compaction amortizes the small-file debt
  * at a bounded cadence.
  */
object StreamTextIngest {

  /** `docs` must be a STREAMING DataFrame with `(doc_id, text)` columns;
    * `indexPath` a [[Sink.writeTextIndex]] layout. Compaction fires
    * when the ingested layout exceeds either threshold (pass
    * `Long.MaxValue` to disable and run compaction externally);
    * thresholds default to the index's persisted [[Sink.ValvePolicy]]
    * (else the family built-ins), so a sweep maintainer and this
    * writer weigh the SAME limits. Caller attaches checkpointLocation
    * and starts.
    */
  def ingestWriter(
      docs: DataFrame,
      indexPath: String,
      maxIngestedFiles: Long = Sink.UsePersistedPolicy,
      maxBatches: Long = Sink.UsePersistedPolicy): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Sink.appendTextIndex(spark, indexPath, batch, batchId)
        Sink.compactTextIndexIfNeeded(
          spark, indexPath, maxIngestedFiles, maxBatches)
        ()
      }
}
