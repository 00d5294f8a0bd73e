package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}
import graft.sinks.Sink

/** BATCH-SCOPED tombstone visibility — delete → append RESURRECTS an id
  * without a compaction. The re-crawl story: at 100 TB a compaction is a
  * full-generation rewrite, and a crawler that re-fetches a previously
  * retention-deleted URL must not pay one per URL. A tombstone written
  * at batch K masks only rows from batches ≤ K (`row_batch > tomb_batch`
  * survival, [[graft.sinks.Sink]]'s committedTombstones/maskTombstones),
  * so a later append of the same id is visible immediately.
  *
  * Pins, per index family (text / IVF / LSH):
  *   - resurrect-without-compaction ≡ a fresh build over the final
  *     logical corpus (N/T constants included for text);
  *   - a delete-batch replay AFTER the re-append landed is a no-op (the
  *     index's commit log holds the batch) and does NOT mask the
  *     re-added rows;
  *   - compaction folds the resurrected state bit-identically;
  *   - a delete-batch replay AFTER its fold is skipped (the fold
  *     absorbed the batch; it would otherwise mask the folded —
  *     re-appended — base rows).
  */
class IndexReaddSpec extends SparkSpec {
  import spark.implicits._

  private def bm25(idx: TextAnalysis.TextIndex): Seq[(Long, Long)] =
    TextAnalysis.bm25TopK(idx, Seq("vector", "hash", "merge"), k = 10)
      .as[(Long, Long)].collect().toSeq

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  test("text: delete → re-append resurrects WITHOUT compaction; replays " +
      "in any order hold; the fold and the post-fold replay guard hold") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val dir = tmp("treadd_idx")
    val refDir = tmp("treadd_ref")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val doomed = docs.filter(col("doc_id").isin(10L, 20L))
        .select(col("doc_id"))
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 0L)
      // re-crawl doc 10 — no compaction in between
      Sink.appendTextIndex(spark, dir,
        docs.filter(col("doc_id") === 10), batchId = 1L)
      // ground truth: a fresh build over the final logical corpus
      Sink.writeTextIndex(docs.filter(col("doc_id") =!= 20), refDir,
        buckets = 8)
      val logical = Sink.readTextIndex(spark, dir)
      val ref = Sink.readTextIndex(spark, refDir)
      assert(logical.nDocs === ref.nDocs,
        "re-append's `add` entry adds its count back into N")
      assert(logical.totalTokens === ref.totalTokens,
        "re-append's Σ dl adds back into T")
      val want = bm25(ref)
      assert(bm25(logical) === want, "resurrect ≡ rebuild, no compaction")

      // the delete batch REPLAYED after the re-append landed: the log
      // holds its tombstone, so the replay is a no-op and the tombstone
      // still masks only row_batch ≤ 0 — doc 10's batch-1 rows stay
      // visible
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 0L)
      val replayed = Sink.readTextIndex(spark, dir)
      assert(bm25(replayed) === want, "replay after re-append: no drift")
      assert(replayed.nDocs === ref.nDocs && replayed.totalTokens === ref.totalTokens)

      // compaction folds the resurrected state bit-identically; doc 10
      // survives into the folded base postings, doc 20 does not
      Sink.compactTextIndex(spark, dir)
      val folded = Sink.readTextIndex(spark, dir)
      assert(bm25(folded) === want, "fold parity over a resurrected id")
      assert(folded.nDocs === ref.nDocs && folded.totalTokens === ref.totalTokens)
      val gen = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.last
      val foldedIds = spark.read.parquet(s"$dir/$gen/postings")
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(foldedIds.contains(10L) && !foldedIds.contains(20L))

      // post-fold replay of the delete batch: the fold absorbed it
      // — without the guard it would tombstone the folded (re-appended)
      // base rows of doc 10
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 0L)
      val guarded = Sink.readTextIndex(spark, dir)
      assert(bm25(guarded) === want,
        "absorbed delete replay must not re-mask the folded resurrect")
      assert(guarded.nDocs === ref.nDocs)
    } finally rm(dir, refDir)
  }

  test("IVF: delete → appendIvfIndex resurrects the vector on every " +
      "probe path; compaction folds; post-fold delete replay is skipped") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
    val dir = tmp("vreadd_ivf")
    try {
      Sink.writeIvfIndex(idx, dir)
      Sink.deleteFromIvfIndex(spark, dir,
        Seq(2L, 4L).toDF("vec_id"), batchId = 0L)
      Sink.appendIvfIndex(spark, dir,
        emb.filter(col("vec_id") === 2), batchId = 1L)
      val queries = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // exhaustive probe: the assertion is about VISIBILITY, not pruning
      def servedIds(i: Similarity.IvfIndex): Set[Long] =
        Similarity.ivfQueryVectorsIntProbe(i, queries,
            k = emb.count().toInt, nprobe = 4)
          .select(col("vec_id")).as[Long].collect().toSet
      val got = servedIds(Sink.readIvfIndex(spark, dir))
      assert(got.contains(2L), "re-appended vector serves immediately")
      assert(!got.contains(4L), "never-re-added vector stays deleted")
      // exactly one visible copy of the resurrected id (base row masked,
      // ingested row live)
      val copies = Sink.readIvfIndex(spark, dir).celled
        .filter(col("vec_id") === 2).count()
      assert(copies === 1L, "one visible copy after resurrect")

      Sink.compactIvfIndex(spark, dir)
      assert(servedIds(Sink.readIvfIndex(spark, dir)) === got,
        "fold parity over a resurrected vector")
      assert(spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/celled")
        .filter(col("vec_id") === 2).count() === 1L)

      // post-fold replay of the delete: absorbed, so skipped — it would
      // otherwise mask vec 2's folded base row
      Sink.deleteFromIvfIndex(spark, dir,
        Seq(2L, 4L).toDF("vec_id"), batchId = 0L)
      assert(servedIds(Sink.readIvfIndex(spark, dir)).contains(2L),
        "absorbed delete replay must not re-mask the folded resurrect")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("LSH: delete → appendLshIndex resurrects BOTH layout sides; " +
      "compaction folds; post-fold delete replay is skipped") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildLshIndex(emb, nBits = 32, bands = 8)
    val dir = tmp("vreadd_lsh")
    try {
      Sink.writeLshIndex(idx, dir)
      Sink.deleteFromLshIndex(spark, dir,
        Seq(1L, 3L).toDF("vec_id"), batchId = 0L)
      Sink.appendLshIndex(spark, dir,
        emb.filter(col("vec_id") === 1), batchId = 1L)
      val loaded = Sink.readLshIndex(spark, dir)
      assert(loaded.signed.filter(col("vec_id") === 1).count() === 1L,
        "signed side: exactly one visible copy after resurrect")
      assert(loaded.signed.filter(col("vec_id") === 3).count() === 0L)
      val queries = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def servedIds(i: Similarity.PersistedLshIndex): Set[Long] =
        Similarity.lshQueryVectors(i, queries, k = emb.count().toInt)
          .select(col("vec_id")).as[Long].collect().toSet
      val got = servedIds(loaded)
      assert(got.contains(1L) && !got.contains(3L),
        "probe surfaces the resurrected id, not the deleted one")

      Sink.compactLshIndex(spark, dir)
      assert(servedIds(Sink.readLshIndex(spark, dir)) === got,
        "fold parity over a resurrected vector")

      Sink.deleteFromLshIndex(spark, dir,
        Seq(1L, 3L).toDF("vec_id"), batchId = 0L)
      assert(servedIds(Sink.readLshIndex(spark, dir)).contains(1L),
        "absorbed delete replay must not re-mask the folded resurrect")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("IVF-PQ: delete masks the CODED layout on the ADC path; " +
      "re-append resurrects with codes; compaction folds") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 2)
    val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
    val dir = tmp("vreadd_pq")
    try {
      Sink.writeIvfPqIndex(idx, model.cents, model.codes, dir)
      Sink.deleteFromIvfIndex(spark, dir,
        Seq(2L, 4L).toDF("vec_id"), batchId = 0L)
      Sink.appendIvfIndex(spark, dir,
        emb.filter(col("vec_id") === 2), batchId = 1L)
      val queries = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def served(): Set[Long] = {
        val (loaded, cents) = Sink.readIvfPqIndex(spark, dir)
        Similarity.ivfPqQueryVectors(loaded, cents, queries,
            nprobe = 4, rerank = 1000000, k = emb.count().toInt)
          .select(col("vec_id")).as[Long].collect().toSet
      }
      val got = served()
      assert(got.contains(2L),
        "re-appended vector serves through ADC (coded ingest)")
      assert(!got.contains(4L), "deleted vector is masked on the ADC path")
      // the resurrected copy carries codes (appendIvfIndex re-encodes
      // with the persisted codebooks — a null code would mis-rank)
      val (loaded, _) = Sink.readIvfPqIndex(spark, dir)
      val copy = loaded.celled.filter(col("vec_id") === 2)
        .select(col("codes")).collect()
      assert(copy.length === 1 && !copy.head.isNullAt(0))

      Sink.compactIvfIndex(spark, dir)
      assert(served() === got, "fold parity on the coded layout")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }
}
