package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.Sink

/** Drift-gated maintenance for the PQ and LSH index lifecycles — the
  * IvfRebuildSpec twins: the IVF-PQ layout gets the full census →
  * threshold → retrain-and-recommit valve (coarse quantizer AND
  * codebooks retrained, codes re-encoded from the corpus, generational
  * single-marker commit); the LSH layout gets the bucket-balance census
  * (SRP skew is intrinsic to data concentration — the census tells the
  * operator the probe-cost contract is degrading; a hyperplane resample
  * could not unskew it, so there is deliberately no "rebuild" valve).
  */
class PqLshDriftSpec extends SparkSpec {
  import spark.implicits._

  private def skewClones(emb: org.apache.spark.sql.DataFrame, n: Int) =
    emb.filter(col("vec_id") === 0L)
      .select(col("embedding"))
      .crossJoin(spark.range(600000L, 600000L + n).toDF("vec_id"))
      .select(col("vec_id"), col("embedding"))

  test("IVF-PQ drift census, threshold no-op, rebuild parity under full " +
      "rerank, balance + census recovery, coded ingest") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("pq_rebuild").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 2)
    val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
    try {
      Sink.writeIvfPqIndex(idx, model.cents, model.codes, dir)
      val n = emb.count()

      // fresh index: census present (writeIvfPqIndex writes it), zero drift
      val fresh = Sink.ivfOccupancyDrift(spark, dir).collect()
      assert(fresh.map(_.getAs[Long]("n_build")).sum === n)
      assert(fresh.forall(_.getAs[Long]("growth_ppm") === 0L))

      // ingest through the SHARED append: a PQ layout must arrive CODED
      // with the persisted codebooks, or ADC meets null codes
      val skew = skewClones(emb, 200)
      Sink.appendIvfIndex(spark, dir, skew, batchId = 0L)
      val ingested = spark.read
        .schema("vec_id BIGINT, unit ARRAY<DOUBLE>, codes ARRAY<INT>, " +
          "cell INT, batch_id BIGINT")
        .parquet(s"$dir/ingested")
      assert(ingested.filter(col("codes").isNull).count() === 0L,
        "PQ-layout ingest must carry codes")
      // and the codes match what the persisted codebooks would emit
      val reEncoded = Similarity.pqEncode(
        graft.operators.Clustering.quantized(skew), model.cents)
      assert(ingested.select(col("vec_id"), col("codes"))
        .exceptAll(reEncoded).count() === 0L)

      // exhaustive-probe + FULL-rerank answers are layout-independent
      val queries = emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))
      def exhaustive() = {
        val (loaded, cents) = Sink.readIvfPqIndex(spark, dir)
        Similarity.ivfPqQueryVectors(loaded, cents, queries,
          nprobe = 4, rerank = 1000000, k = 8)
      }
      val before = exhaustive().collect().toSeq

      // below threshold: no-op (200 clones can inflate growth_ppm to at
      // most 200e6/1, so a 1e9 threshold is unreachable by construction)
      val (r0, ppm0) = Sink.rebuildIvfPqIndex(spark, dir,
        emb.select(col("vec_id"), col("embedding")).unionByName(skew),
        nlist = 4, m = 8, k = 16, thresholdPpm = 1000000000L, iters = 2,
        pqIters = 1)
      assert(!r0 && ppm0 > 0L, s"below threshold must not rebuild ($ppm0)")

      val maxOccBefore = Sink.ivfOccupancyDrift(spark, dir).collect()
        .map(_.getAs[Long]("n_now")).max
      val (rebuilt, ppm) = Sink.rebuildIvfPqIndex(spark, dir,
        emb.select(col("vec_id"), col("embedding")).unionByName(skew),
        nlist = 4, m = 8, k = 16, thresholdPpm = 500000L, iters = 2,
        pqIters = 1)
      assert(rebuilt && ppm === ppm0)
      assert(!new java.io.File(s"$dir/ingested").exists(),
        "rebuild must absorb the ingested layout")
      assert(Sink.resolveIndexRoot(spark, dir) === s"$dir/gen-1",
        "rebuild must commit a generation, not rename in place")
      assert(new java.io.File(s"$dir/gen-1/pq_codebooks").exists(),
        "the committed generation carries retrained codebooks")

      // parity: codes/ADC changed, the exact-cosine full rerank didn't
      assert(exhaustive().collect().toSeq === before,
        "full-rerank answers must survive the PQ rebuild bit for bit")

      // census refreshed + balance recovered
      val after = Sink.ivfOccupancyDrift(spark, dir).collect()
      assert(after.map(_.getAs[Long]("n_build")).sum === n + 200)
      assert(after.forall(_.getAs[Long]("growth_ppm") === 0L))
      assert(after.map(_.getAs[Long]("n_now")).max < maxOccBefore)
    } finally {
      idx.unpersist(); model.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-PQ rebuild refuses a corpus that does not cover the index " +
      "(no silent row drop) and leaves the old generation live") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("pq_refuse").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
    val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
    try {
      Sink.writeIvfPqIndex(idx, model.cents, model.codes, dir)
      Sink.appendIvfIndex(spark, dir, skewClones(emb, 100), batchId = 0L)
      val err = intercept[IllegalArgumentException] {
        // corpus misses the ingested clones -> their codes would vanish
        Sink.rebuildIvfPqIndex(spark, dir,
          emb.select(col("vec_id"), col("embedding")),
          nlist = 4, m = 8, k = 16, thresholdPpm = 100000L, iters = 1,
          pqIters = 1)
      }
      assert(err.getMessage.contains("must contain every indexed vec_id"))
      // the half-written generation never committed; the flat layout is
      // still the live root and still answers with all rows
      assert(Sink.resolveIndexRoot(spark, dir) === dir)
      assert(Sink.readIvfIndex(spark, dir).celled.count() === 200L + 100L)
    } finally {
      idx.unpersist(); model.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("coarse-only rebuild refuses an IVF-PQ layout (would strand codes)") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("pq_guard").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
    val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
    try {
      Sink.writeIvfPqIndex(idx, model.cents, model.codes, dir)
      Sink.appendIvfIndex(spark, dir, skewClones(emb, 100), batchId = 0L)
      val err = intercept[IllegalArgumentException] {
        Sink.rebuildIvfIndex(spark, dir, nlist = 4,
          thresholdPpm = 100000L)
      }
      assert(err.getMessage.contains("rebuildIvfPqIndex"))
    } finally {
      idx.unpersist(); model.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("LSH bucket-balance census: zero at build, skew grows exactly the " +
      "source's band buckets, legacy backfill, stable across compaction") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("lsh_census").toString
    val idx = Similarity.buildLshIndex(emb, nBits = 64, bands = 16)
    try {
      Sink.writeLshIndex(idx, dir)
      val n = emb.count()

      // fresh: every (band, bucket) at its build count, zero growth;
      // totals = bands x corpus (each vector posts once per band)
      val fresh = Sink.lshOccupancyDrift(spark, dir).collect()
      assert(fresh.map(_.getAs[Long]("n_build")).sum === 16L * n)
      assert(fresh.forall(_.getAs[Long]("growth_ppm") === 0L))

      // skewed ingest: clones of vector 0 share ALL its band buckets
      Sink.appendLshIndex(spark, dir, skewClones(emb, 200), batchId = 0L)
      val drifted = Sink.lshOccupancyDrift(spark, dir).collect()
      val grown = drifted.filter(_.getAs[Long]("growth_ppm") > 0L)
      assert(grown.length === 16,
        s"exactly one bucket per band must grow (got ${grown.length})")
      assert(grown.map(_.getAs[Int]("band")).toSet === (0 until 16).toSet)
      assert(grown.forall(r =>
        r.getAs[Long]("n_now") === r.getAs[Long]("n_build") + 200))

      // compaction folds postings back without moving the census
      Sink.compactLshIndex(spark, dir)
      val after = Sink.lshOccupancyDrift(spark, dir).collect()
      assert(after.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2)).toSeq ===
        drifted.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2)).toSeq,
        "census must be identical across compaction")
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
