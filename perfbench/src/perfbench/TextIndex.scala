package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.TextAnalysis
import graft.sinks.Sink

/** `text_index_append_serve`: an inverted index built once at set-up, then
  * a fixed sequence of cycles. One operation is one cycle: append a batch
  * of documents and run the compaction valve (the `StreamTextIngest` body),
  * then reload the index and serve a request batch with BM25, collected.
  * The persisted valve policy makes compaction fire every fifth cycle.
  */
final class TextIndexAppendServe(ctx: Ctx) extends Workload {
  import ctx._
  import TextIndexAppendServe._

  private val path = tmp.resolve("text-index").toString
  private val base = Inputs.documents(seed, 200000L, 0L, BaseDocs)
  private val docBatches = mutable.ArrayBuffer[IndexedSeq[Inputs.Doc]]()
  private val requestBatches = mutable.ArrayBuffer[IndexedSeq[(Long, Seq[String])]]()
  private val served = mutable.ArrayBuffer[Seq[(Long, Long, Long, Int)]]()
  private var docs: DataFrame = _
  private var requests: DataFrame = _
  private var ingestedFiles = 0L

  private def docFrame(ds: IndexedSeq[Inputs.Doc]): DataFrame =
    spark.createDataFrame(ds.map(d => (d.docId, d.text))).toDF("doc_id", "text")

  /** Cycle `c` counts warm-up cycles too; its batch id is `c`. */
  private def prepareCycle(c: Int): Unit = {
    val ds = Inputs.documents(seed, 300000L + c, BaseDocs + c.toLong * BatchDocs, BatchDocs)
    val rq = Inputs.requests(seed, 400000L + c, Requests)
    docBatches += ds
    requestBatches += rq
    docs = docFrame(ds)
    requests = spark.createDataFrame(rq).toDF("query_id", "terms")
  }

  private def cycle(c: Int): Unit = {
    trace.span("index.append")(Sink.appendTextIndex(spark, path, docs, c.toLong))
    val (_, files, _) = trace.spanNamed(Sink.compactTextIndexIfNeeded(spark, path)) {
      case (compacted, _, _) => if (compacted) "index.compact" else "index.valve"
    }
    ingestedFiles += files
    val index = trace.span("index.read")(Sink.readTextIndex(spark, path))
    val rows = trace.span("textanalysis.bm25_batch") {
      TextAnalysis.bm25QueryBatch(index, requests, K).collect()
    }
    served += rows.toSeq.map((r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
  }

  def setup(): Unit = {
    Sink.writeTextIndex(docFrame(base), path, Buckets, "overwrite",
      Some(Sink.ValvePolicy(maxIngestedFiles = 1000000L, maxBatches = MaxBatches,
        maxMaskedIds = 1000000L)))
    (0 until WarmupCycles).foreach { c =>
      prepareCycle(c)
      cycle(c)
    }
    ingestedFiles = 0L
  }

  override def prepare(i: Int): Unit = prepareCycle(WarmupCycles + i)

  def op(i: Int): Unit = cycle(WarmupCycles + i)

  /** Replays the cycles against the reference: every cycle's answers must
    * equal BM25 recomputed over the documents ingested so far, before and
    * after each compaction alike.
    */
  def check(ops: Int): Int = {
    val reference = new Checks.Bm25Corpus()
    base.foreach(d => reference.add(d.docId, d.text))
    var failed = 0
    served.indices.foreach { c =>
      docBatches(c).foreach(d => reference.add(d.docId, d.text))
      val want = requestBatches(c).flatMap { case (q, terms) =>
        reference.topK(terms, K).zipWithIndex.map { case ((doc, score), r) =>
          (q, doc, score, r + 1)
        }
      }
      if (served(c) != want) {
        if (c >= WarmupCycles) failed += 1
        System.err.println(s"text_index_append_serve: cycle $c served ${served(c).take(5)}..., " +
          s"reference ${want.take(5)}...")
      }
    }
    failed
  }

  def layers(ops: Int, spans: Map[String, (Int, Double, Double)],
      counters: Map[String, Double]): Map[String, Double] = {
    def ms(n: String) = spans.get(n).map(_._2).getOrElse(0.0) / ops
    Map(
      "index.append_ms" -> ms("index.append"),
      "index.valve_ms" -> ms("index.valve"),
      "index.compact_ms" -> ms("index.compact"),
      "index.compactions" -> spans.get("index.compact").map(_._1).getOrElse(0).toDouble / ops,
      "index.ingested_files" -> ingestedFiles.toDouble / ops,
      "index.read_ms" -> ms("index.read"),
      "textanalysis.bm25_batch_ms" -> ms("textanalysis.bm25_batch"),
      "sink.rows_landed" -> counters("records_written") / ops)
  }
}

object TextIndexAppendServe {
  val BaseDocs = 400
  val BatchDocs = 20
  val Requests = 8
  val K = 10
  val Buckets = 4
  /** The valve folds the ingested layout once more than this many batches are committed. */
  val MaxBatches = 4L
  val WarmupCycles = 2
}
