package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}
import graft.sinks.Sink

/** Document/vector DELETE across the four index families — the
  * retention story composing with the persisted indexes: tombstone
  * batches with commit records, broadcast anti-joins on every read
  * path, corpus-constant adjustments (text), physical folding at
  * compaction/rebuild, and the no-ledger replay rule (a replayed delete
  * re-derives its original contributions; a post-fold replay
  * contributes zero on an already-adjusted base).
  */
class IndexDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def bm25(idx: TextAnalysis.TextIndex): Seq[(Long, Long)] =
    TextAnalysis.bm25TopK(idx, Seq("vector", "hash", "merge"), k = 10)
      .as[(Long, Long)].collect().toSeq

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  test("text delete: logical state ≡ rebuild on remaining docs, for " +
      "BM25 AND the positional legs; compaction folds physically") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("tdel_idx")
    val refDir = tmp("tdel_ref")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val doomed = docs.filter(col("doc_id") % 5 === 2).select(col("doc_id"))
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 0L)
      // the ground truth: a FRESH index over corpus-minus-deleted
      Sink.writeTextIndex(docs.filter(col("doc_id") % 5 =!= 2), refDir,
        buckets = 8)
      val logical = Sink.readTextIndex(spark, dir)
      val ref = Sink.readTextIndex(spark, refDir)
      assert(logical.nDocs === ref.nDocs, "N adjusts by the deleted count")
      assert(logical.totalTokens === ref.totalTokens, "T adjusts by Σ dl")
      assert(bm25(logical) === bm25(ref), "BM25 ≡ rebuild-on-remaining")
      def phrase(i: TextAnalysis.TextIndex) =
        TextAnalysis.phraseTopK(i, Seq("table", "hash"), k = 10)
          .as[(Long, Long)].collect().toSeq
      def prox(i: TextAnalysis.TextIndex) =
        TextAnalysis.proximityTopK(i, Seq("vector", "hash"), k = 10)
          .as[(Long, Long)].collect().toSeq
      assert(phrase(logical) === phrase(ref), "phrase sees the delete")
      assert(prox(logical) === prox(ref), "proximity sees the delete")

      // compaction: bit parity, tombstone layouts dropped, rows
      // PHYSICALLY absent from the committed generation
      val before = bm25(logical)
      Sink.compactTextIndex(spark, dir)
      val after = Sink.readTextIndex(spark, dir)
      assert(bm25(after) === before, "bit parity across the fold")
      assert(after.nDocs === ref.nDocs && after.totalTokens === ref.totalTokens)
      val gen = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.last
      assert(!new java.io.File(s"$dir/$gen/tombstones").exists(),
        "tombstones fold away at compaction")
      assert(!new java.io.File(s"$dir/tombstones").exists())
      val doomedIds = doomed.as[Long].collect().toSet
      val survivors = spark.read.parquet(s"$dir/$gen/postings")
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(survivors.intersect(doomedIds).isEmpty,
        "deleted docs are physically absent from the folded postings")

      // a delete batch REPLAYED after its fold: absorbed, zero effect
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 0L)
      val replayed = Sink.readTextIndex(spark, dir)
      assert(bm25(replayed) === before)
      assert(replayed.nDocs === ref.nDocs,
        "post-fold replay contributes zero on the adjusted base")
    } finally rm(dir, refDir)
  }

  test("text delete replays are exactly-once in ANY order: a replay of " +
      "batch K after L landed re-derives K's original numbers") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val dir = tmp("tdel_replay")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val a = docs.filter(col("doc_id") % 4 === 1).select(col("doc_id"))
      val b = docs.filter(col("doc_id") % 8 === 1 || col("doc_id") % 4 === 2)
        .select(col("doc_id")) // overlaps a on doc_id % 8 == 1
      Sink.deleteFromTextIndex(spark, dir, a, batchId = 3L)
      Sink.deleteFromTextIndex(spark, dir, b, batchId = 4L)
      val settled = Sink.readTextIndex(spark, dir)
      val want = bm25(settled)
      val (wantN, wantT) = (settled.nDocs, settled.totalTokens)
      // replay the EARLIER batch after the later one landed — the
      // contribution recompute must ignore batch 4's tombstones (only
      // earlier batches apply) or the overlap would be double-excluded
      Sink.deleteFromTextIndex(spark, dir, a, batchId = 3L)
      val r1 = Sink.readTextIndex(spark, dir)
      assert((bm25(r1), r1.nDocs, r1.totalTokens) === ((want, wantN, wantT)),
        "replay of K after L must not drift N/T")
      Sink.deleteFromTextIndex(spark, dir, b, batchId = 4L)
      val r2 = Sink.readTextIndex(spark, dir)
      assert((bm25(r2), r2.nDocs, r2.totalTokens) === ((want, wantN, wantT)))
    } finally rm(dir)
  }

  test("text delete composes with ingest: appended docs delete too, " +
      "and a fresh overwrite build clears stale tombstones") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val dir = tmp("tdel_ing")
    try {
      Sink.writeTextIndex(docs.filter(col("doc_id") < 150), dir,
        buckets = 8)
      Sink.appendTextIndex(spark, dir,
        docs.filter(col("doc_id") >= 150), batchId = 0L)
      // delete spans BOTH layouts (base and ingested docs)
      val doomed = docs.filter(col("doc_id").isin(10L, 20L, 200L, 250L))
        .select(col("doc_id"))
      Sink.deleteFromTextIndex(spark, dir, doomed, batchId = 1L)
      val refDir = tmp("tdel_ing_ref")
      try {
        Sink.writeTextIndex(
          docs.filter(!col("doc_id").isin(10L, 20L, 200L, 250L)), refDir,
          buckets = 8)
        assert(bm25(Sink.readTextIndex(spark, dir))
          === bm25(Sink.readTextIndex(spark, refDir)),
          "delete applies across base ∪ ingested")
      } finally rm(refDir)
      // an overwrite REBUILD at the same path starts clean: the old
      // tombstones must not silently delete freshly-indexed docs
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val fresh = Sink.readTextIndex(spark, dir)
      assert(fresh.nDocs === docs.count(),
        "stale tombstones cleared by the fresh build")
    } finally rm(dir)
  }

  test("IVF/IVF-PQ delete: every probe path stops returning the ids " +
      "immediately; compaction and rebuild fold physically") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    val dir = tmp("vdel_ivf")
    try {
      Sink.writeIvfIndex(idx, dir)
      val doomedIds = Set(2L, 5L, 8L, 13L)
      Sink.deleteFromIvfIndex(spark, dir,
        doomedIds.toSeq.toDF("vec_id"), batchId = 0L)
      val loaded = Sink.readIvfIndex(spark, dir)
      val queries = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def servedIds(i: Similarity.IvfIndex): Set[Long] =
        Similarity.ivfQueryVectorsIntProbe(i, queries, k = 50, nprobe = 8)
          .select(col("vec_id")).as[Long].collect().toSet
      val got = servedIds(loaded)
      assert(got.intersect(doomedIds).isEmpty,
        "deleted vectors must not serve (exhaustive probe)")
      // ≡ an index over corpus-minus-deleted (same training corpus)
      val refCelled = idx.celled
        .filter(!col("vec_id").isin(doomedIds.toSeq: _*))
      val ref = Similarity.IvfIndex(idx.centroids, refCelled, idx.qcents)
      assert(got === servedIds(ref), "logical delete ≡ physical absence")

      // compaction folds: rows physically gone, layouts dropped
      Sink.compactIvfIndex(spark, dir)
      assert(!new java.io.File(s"$dir/tombstones").exists())
      val survivors = spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/celled")
        .select(col("vec_id")).as[Long].collect().toSet
      assert(survivors.intersect(doomedIds).isEmpty)
      assert(servedIds(Sink.readIvfIndex(spark, dir)) === got,
        "bit parity across the fold")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("LSH delete: tombstones anti-join postings AND the signed " +
      "rerank side; compaction folds both") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildLshIndex(emb, nBits = 32, bands = 8)
    val dir = tmp("vdel_lsh")
    try {
      Sink.writeLshIndex(idx, dir)
      val doomedIds = Set(1L, 3L, 7L)
      Sink.deleteFromLshIndex(spark, dir,
        doomedIds.toSeq.toDF("vec_id"), batchId = 0L)
      val loaded = Sink.readLshIndex(spark, dir)
      val queries = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def servedIds(i: Similarity.PersistedLshIndex): Set[Long] =
        Similarity.lshQueryVectors(i, queries, k = 50)
          .select(col("vec_id")).as[Long].collect().toSet
      val got = servedIds(loaded)
      assert(got.intersect(doomedIds).isEmpty)
      assert(loaded.signed.filter(col("vec_id").isin(doomedIds.toSeq: _*))
        .count() === 0, "signed side hides deleted ids")

      Sink.compactLshIndex(spark, dir)
      assert(!new java.io.File(s"$dir/tombstones").exists())
      assert(spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/signed")
        .filter(col("vec_id").isin(doomedIds.toSeq: _*)).count() === 0,
        "deleted ids physically absent after the fold")
      assert(servedIds(Sink.readLshIndex(spark, dir)) === got)
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("IVF delete composes with ingest: appended vectors delete too, " +
      "and a fresh overwrite build clears stale vector tombstones") {
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val idx = Similarity.buildIvfIndexExact(half, nlist = 4, iters = 1)
    val dir = tmp("vdel_ing")
    try {
      Sink.writeIvfIndex(idx, dir)
      Sink.appendIvfIndex(spark, dir,
        emb.filter(col("vec_id") % 2 === 1), batchId = 0L)
      // the delete spans BOTH layouts: a base vector and an ingested one
      Sink.deleteFromIvfIndex(spark, dir,
        Seq(2L, 3L).toDF("vec_id"), batchId = 1L)
      val loaded = Sink.readIvfIndex(spark, dir)
      val ids = loaded.celled.select(col("vec_id")).as[Long]
        .collect().toSet
      assert(!ids.contains(2L) && !ids.contains(3L),
        "delete applies across celled ∪ ingested")
      assert(ids.size === emb.count() - 2)
      // an overwrite REBUILD at the same path starts clean
      val fresh = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
      Sink.writeIvfIndex(fresh, dir)
      fresh.unpersist()
      assert(Sink.readIvfIndex(spark, dir).celled.count() === emb.count(),
        "stale vector tombstones cleared by the fresh build")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("delete-only states still compact (no appended batches), and " +
      "the compaction gate counts tombstone batches") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val dir = tmp("tdel_only")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      Sink.deleteFromTextIndex(spark, dir,
        Seq(1L, 2L).toDF("doc_id"), batchId = 0L)
      // below both valves but over the tombstone valve → compacts
      val (did, _, _) = Sink.compactTextIndexIfNeeded(spark, dir,
        maxIngestedFiles = 1000L, maxBatches = 0L)
      assert(did, "tombstone batches trip the maintenance valve")
      assert(!new java.io.File(s"$dir/tombstones").exists())
      val gen = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.last
      val ids = spark.read.parquet(s"$dir/$gen/postings")
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(!ids.contains(1L) && !ids.contains(2L))
    } finally rm(dir)
  }
}
