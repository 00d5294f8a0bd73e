package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Graph}

/** `dedup_clusters_batch`: repeated full passes over one document set. One
  * operation is one pass: character 3-gram Jaccard pairs, collected, then
  * connected components over those pairs, collected: the repository's
  * `dedup_clusters` query split at the pair set, so that each layer has
  * its own span, at the 0.8 threshold of its `dedup_ngram_jaccard` query
  * (see the README for why not 0.7).
  */
final class DedupClusters(ctx: Ctx) extends Workload {
  import ctx._
  import DedupClusters._

  private val docs = Inputs.documents(seed, 500000L, 0L, Docs)
  private var docFrame: DataFrame = _
  private var pairFrame: DataFrame = _
  private val passes = mutable.ArrayBuffer[(Set[(Long, Long, Double)], Map[Long, Long])]()
  private var rounds = 0L

  private def pass(): Unit = {
    val pairs = trace.span("dedup.pairs") {
      Dedup.ngramJaccardPairs(docFrame, Threshold)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    pairFrame = spark.createDataFrame(pairs.toSeq.map(p => (p._1, p._2)))
      .toDF("doc_a", "doc_b")
    val comps = trace.span("graph.cc") {
      Graph.componentsFor(docFrame, "doc_id", pairFrame, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    passes += ((pairs.toSet, comps))
  }

  def setup(): Unit = {
    docFrame = spark.createDataFrame(docs.map(d => (d.docId, d.text, d.lang)))
      .toDF("doc_id", "text", "lang")
    (0 until WarmupPasses).foreach(_ => pass())
    passes.clear()
  }

  def op(i: Int): Unit = pass()

  // componentsFor does not return its rounds to convergence: the traced
  // run asks the same loop for them in a separate call
  override def after(i: Int): Unit =
    rounds += trace.beside(i)(trace.span("graph.cc_rounds_probe") {
      Graph.connectedComponentsWithRounds(pairFrame, "doc_a", "doc_b")._2
    })

  /** The returned pairs must be exactly the same-language pairs whose
    * character 3-gram Jaccard, recomputed over every pair of documents, is
    * at least the threshold, each with that Jaccard; the component labels
    * must equal a union-find's minimum ids over those pairs.
    */
  def check(ops: Int): Int = {
    val grams = docs.map(d => Checks.charGrams(Checks.normText(d.text), 3))
    val want = (for {
      i <- docs.indices
      j <- i + 1 until docs.length
      if docs(i).lang == docs(j).lang
      jac = Checks.jaccard(grams(i), grams(j))
      if jac >= Threshold
    } yield (docs(i).docId, docs(j).docId) -> jac).toMap
    val verdicts = mutable.HashMap[Set[(Long, Long, Double)], Boolean]()
    def pairsOk(ps: Set[(Long, Long, Double)]) = verdicts.getOrElseUpdate(ps,
      ps.size == want.size && ps.forall { case (a, b, j) =>
        want.get((a, b)).exists(exact => math.abs(exact - j) < 1e-9)
      })
    passes.count { case (ps, comps) =>
      val labels = Checks.componentLabels(docs.map(_.docId), ps.toSeq.map(p => (p._1, p._2)))
      val ok = pairsOk(ps) && comps == labels
      if (!ok) System.err.println(s"dedup_clusters_batch: pass with ${ps.size} pairs " +
        s"disagrees with the reference")
      !ok
    }
  }

  def layers(ops: Int, spans: Map[String, (Int, Double, Double)],
      counters: Map[String, Double]): Map[String, Double] = {
    def ms(n: String) = spans.get(n).map(_._2).getOrElse(0.0) / ops
    Map(
      "dedup.pairs_ms" -> ms("dedup.pairs"),
      "dedup.pairs" -> passes.map(_._1.size).sum.toDouble / passes.size,
      "graph.cc_ms" -> ms("graph.cc"),
      "graph.cc_rounds" -> rounds.toDouble / ops)
  }
}

object DedupClusters {
  val Docs = 400
  val Threshold = 0.8
  val WarmupPasses = 3
}
