package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.operators.Router

/** The reference's ingestion loop as Structured Streaming (SURVEY.md §3.1
  * mapped to §7 step 8): a message stream is routed first-match, transformed
  * per route, and fanned out to per-table sinks; the TimescaleDB continuous
  * aggregate (migrations/001_initial_schema.sql:38-53) becomes a
  * watermarked tumbling-window aggregate — Spark's incremental maintenance
  * of exactly that view.
  *
  * Deltas from the reference, by design (SURVEY.md §4): Spark back-pressures
  * instead of dropping on a full queue; timestamps are event time with a
  * watermark for late data (the reference only ever has arrival time); sink
  * writes are batched per epoch instead of row-at-a-time INSERTs.
  */
object StreamRoutes {

  /** Hourly continuous-aggregate analog over the message envelope
    * (+ a numeric `value` column): AVG/MIN/MAX/COUNT per (window, topic).
    * Watermark bounds state: buckets older than the watermark are finalized
    * and evicted — the streaming twin of Analytics.timeBucketAgg.
    */
  def continuousAggregate(
      messages: DataFrame,
      watermark: String = "10 minutes",
      bucket: String = "1 hour"): DataFrame =
    messages
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), bucket), col("topic"))
      .agg(
        avg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n"))

  /** First-match route + multi-table fan-out as a streaming sink: each
    * micro-batch is routed with the same batch Router and every target
    * table's slice handed to `write`. `foreachBatch` is the idiomatic
    * multi-sink shape — one pass per epoch, back-pressured by the trigger.
    */
  def routedWriter(
      messages: DataFrame,
      router: Router)(
      write: (String, DataFrame) => Unit): DataStreamWriter[Row] =
    messages.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // the first-match route index is computed once per epoch and
      // persisted with the batch; each table's plan (one per table) then
      // filters that cached index instead of re-matching topics
      val shared = router.withIndex(batch).persist()
      try router.fanOutIndexed(shared).foreach { case (table, df) =>
        write(table, df)
      } finally {
        shared.unpersist()
        ()
      }
    }

  /** Stream-static enrichment: join each streaming micro-batch against a
    * static dimension table (device registry, tenant config — the lookup
    * every ingestion pipeline does before landing). Spark supports this
    * natively, stateless: the static side is (re)planned per micro-batch
    * and broadcast when small, so the stream side never shuffles and no
    * streaming state accumulates. Left join keeps unregistered messages
    * flowing (null-extended) rather than dropping them.
    */
  def enrichStream(
      messages: DataFrame,
      dim: DataFrame,
      key: String,
      joinType: String = "left"): DataFrame =
    messages.join(broadcast(dim), Seq(key), joinType)

  /** Convenience: run the routed stream until all available data is
    * processed (test/backfill harness).
    */
  def runOnce(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q.processAllAvailable()
    q
  }
}
