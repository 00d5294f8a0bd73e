package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Dedup, TextAnalysis}

/** One (doc, band) probe row with the document's carried metadata. */
final case class CuratedProbe(
    doc_id: Long, ts: Timestamp, sh: Long, band: Int, bucket: Long,
    meta: String)

/** Per-band verdict with carried metadata (see [[StreamingNearDup]]). */
final case class CuratedHit(
    doc_id: Long, ts: Timestamp, band: Int, hit: Boolean, meta: String)

/** The composed STREAMING curation pipeline — the ingest-time twin of
  * [[graft.operators.Curation.curateNearDup]] run end to end as one
  * recoverable query:
  *
  *   quality filter → benchmark decontamination → near-dup suppression
  *   → first-match routed multi-table sink
  *
  * Stage mapping (each stage is the streaming form of an operator that
  * already carries its own batch oracle):
  *
  *   1. quality: [[TextAnalysis.withQuality]] is a NARROW projection, so
  *      it applies to a streaming frame unchanged — rejected docs never
  *      reach the stateful stage (the same order as the batch pipeline:
  *      filter before pair work);
  *   2. decontam: [[StreamDecontam.cleanStream]] — static reference keys
  *      fold once into a broadcast Bloom prefilter + exact anti-join for
  *      the positives; stateless per micro-batch;
  *   3. near-dup: the banded-SimHash stateful store of
  *      [[StreamingNearDup]] (state per (band, bucket) = a capped list of
  *      64-bit signatures, event-time-evicted at the watermark), with the
  *      document's routing metadata carried ALONGSIDE the probe rows —
  *      state itself stays signatures-only, so the carry widens the
  *      exchange by one small JSON string and the store by nothing;
  *   4. sink: per-epoch first-match routing (one route tag per row from
  *      the ordered predicates, then one filter per target table — the
  *      [[graft.operators.Router]] one-index design) into per-table
  *      writers inside `foreachBatch` — the A9 multi-table fan-out with
  *      the batchId available for idempotent writes.
  *
  * Recovery contract (StreamCurationRecoverySpec): kill the query between
  * epochs and restart from the checkpoint — bucket state survives, so a
  * near-dup of a PRE-KILL document is still suppressed post-restart, and
  * admitted docs emit exactly once (idempotent batchId-keyed sink).
  */
object StreamCuration {

  /** Curated per-(doc, band) flags for a streaming
    * `docs(doc_id, text, ts, carryCols…)`; `reference` is the static
    * benchmark/archive corpus with a `text` column. Admission semantics
    * per stage are documented on the object.
    */
  def curatedFlags(
      docs: DataFrame,
      reference: DataFrame,
      minQuality: Double = 0.5,
      carryCols: Seq[String] = Seq("lang"),
      maxDist: Int = 3,
      delayMinutes: Int = 60,
      maxPerBucket: Int = 64): Dataset[CuratedHit] = {
    require(maxDist <= 3,
      s"4x16-bit banding guarantees recall only for hamming <= 3, got $maxDist")
    val spark = docs.sparkSession
    import spark.implicits._
    val delayMs = delayMinutes * 60L * 1000L

    // 1. quality gate — narrow, before any keyed work
    val scored = TextAnalysis.withQuality(docs)
      .filter(col("quality_score") >= minQuality)
      .select((Seq(col("doc_id"), col("ts"), col("text")) ++
        carryCols.map(col)): _*)
    // 2. decontamination — Bloom prefilter + exact anti-join on content key
    val clean = StreamDecontam.cleanStream(scored, reference)
    // 3. banded-SimHash suppression with carried metadata
    def update(
        key: (Int, Long),
        rows: Iterator[CuratedProbe],
        state: GroupState[BucketSigs]): Iterator[CuratedHit] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        StreamingNearDup.probeBucket(
          rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)),
          state, delayMs, maxDist, maxPerBucket)(_.ts.getTime, _.sh)
          .map { case (r, hit) =>
            CuratedHit(r.doc_id, r.ts, r.band, hit, r.meta)
          }
          .iterator
      }
    }
    def chunk(sh: Column, b: Int) =
      shiftright(sh, b * 16).bitwiseAND(0xffffL)
    val sh = clean
      .select(col("doc_id").cast("long"), col("ts"),
        Dedup.simhash(col("text")).as("sh"),
        to_json(struct(carryCols.map(col): _*)).as("meta"))
      .withWatermark("ts", s"$delayMinutes minutes")
    sh.select(col("doc_id"), col("ts"), col("sh"), col("meta"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), chunk(col("sh"), b).as("bucket"))): _*))
          .as("bb"))
      .select(col("doc_id"), col("ts"), col("sh"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"), col("meta"))
      .as[CuratedProbe]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Routed multi-table sink over the curated stream: per micro-batch,
    * OR the four band flags per doc (exact — all four band rows of a doc
    * land in the same micro-batch, see [[StreamingNearDup.bandFlags]]),
    * drop suppressed docs, assign each survivor its FIRST matching route
    * (ordered CASE WHEN over predicates on the carried metadata — A3
    * first-match semantics), and hand each table its slice. Unmatched
    * rows go to `defaultTable` (the A7 passthrough analog).
    *
    * `write(table, batchId, df)` receives the batchId so sinks can be
    * idempotent under epoch replay (the recovery contract).
    */
  def routedWriter(
      docs: DataFrame,
      reference: DataFrame,
      routes: Seq[(String, Column)],
      defaultTable: String = "iot_raw",
      minQuality: Double = 0.5,
      carryCols: Seq[String] = Seq("lang"),
      maxDist: Int = 3,
      delayMinutes: Int = 60,
      maxPerBucket: Int = 64)(
      write: (String, Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    val metaSchema = s"struct<${carryCols.map(c => s"$c:string").mkString(",")}>"
    curatedFlags(docs, reference, minQuality, carryCols, maxDist,
      delayMinutes, maxPerBucket)
      .toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = batch
          .groupBy(col("doc_id"), col("ts"), col("meta"))
          .agg(max(when(col("hit"), 1).otherwise(0)).as("suppressed"))
          .filter(col("suppressed") === 0)
          .withColumn("m", from_json(col("meta"),
            org.apache.spark.sql.types.DataType.fromDDL(metaSchema)))
          .select((Seq(col("doc_id"), col("ts")) ++
            carryCols.map(c => col(s"m.$c").as(c))): _*)
        // first-match: route i takes rows matching pred_i AND none before
        val routed = routes.zipWithIndex.foldLeft(
          admitted.withColumn("_route", lit(null).cast("string"))) {
          case (df, ((table, pred), _)) =>
            df.withColumn("_route",
              when(col("_route").isNull && pred, lit(table))
                .otherwise(col("_route")))
        }.withColumn("_route", coalesce(col("_route"), lit(defaultTable)))
        (routes.map(_._1) :+ defaultTable).distinct.foreach { t =>
          write(t, batchId, routed.filter(col("_route") === t).drop("_route"))
        }
      }
  }
}
