package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.Sink

/** The drift-and-retrain maintenance valve of the persisted IVF index:
  * build census written at build time, occupancy drift read off disk,
  * rebuild fires only past the threshold, post-rebuild queries are
  * bit-identical under exhaustive probes, and cell balance actually
  * recovers (the reason the valve exists).
  */
class IvfRebuildSpec extends SparkSpec {
  import spark.implicits._

  test("drift census, threshold no-op, rebuild parity + balance recovery") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 1000)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeIvfIndex(idx, dir)
      val n = emb.count()

      // fresh index: drift census covers every cell, growth 0 everywhere
      val fresh = Sink.ivfOccupancyDrift(spark, dir).collect()
      assert(fresh.map(_.getAs[Long]("n_build")).sum === n)
      assert(fresh.forall(r =>
        r.getAs[Long]("n_now") === r.getAs[Long]("n_build")))
      assert(fresh.forall(_.getAs[Long]("growth_ppm") === 0L))

      // below-threshold ingest: a small balanced ADD must NOT rebuild
      val mild = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
      Sink.appendIvfIndex(spark, dir, mild, batchId = 0L)
      val (rebuilt0, ppm0) =
        Sink.rebuildIvfIndex(spark, dir, nlist = 8, thresholdPpm = 500000L)
      assert(!rebuilt0, s"balanced +2% ingest must not rebuild (ppm $ppm0)")
      assert(new java.io.File(s"$dir/ingested").exists(),
        "no-op path must leave the layout untouched")

      // skewed ingest: clones of one vector all land in ONE cell
      val skew = emb.filter(col("vec_id") === 0L)
        .select(col("embedding"))
        .crossJoin(spark.range(600000L, 600500L).toDF("vec_id"))
        .select(col("vec_id"), col("embedding"))
      Sink.appendIvfIndex(spark, dir, skew, batchId = 1L)
      val drifted = Sink.ivfOccupancyDrift(spark, dir).collect()
      val maxGrow = drifted.map(_.getAs[Long]("growth_ppm")).max
      assert(maxGrow >= 500000L,
        s"500 clones into ~${n / 8}-row cells must balloon one (got $maxGrow)")
      val maxOccBefore = drifted.map(_.getAs[Long]("n_now")).max

      // exhaustive-probe answers are layout-independent: pin them
      val queries = emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))
      def exhaustive() = Similarity.ivfQueryVectors(
        Sink.readIvfIndex(spark, dir), queries, k = 8, nprobe = 8)
      val before = exhaustive().collect().toSeq

      val (rebuilt, ppm) =
        Sink.rebuildIvfIndex(spark, dir, nlist = 8, thresholdPpm = 500000L)
      assert(rebuilt && ppm === maxGrow)
      assert(!new java.io.File(s"$dir/ingested").exists(),
        "rebuild must absorb the ingested layout")

      // parity: bit-identical rows (unit arrays preserved, not
      // re-normalized — cosine doubles must not drift)
      assert(exhaustive().collect().toSeq === before,
        "exhaustive-probe answers must survive the rebuild bit for bit")

      // census refreshed: drift zero again, all rows accounted for
      val after = Sink.ivfOccupancyDrift(spark, dir).collect()
      assert(after.map(_.getAs[Long]("n_build")).sum === n + 20 + 500)
      assert(after.forall(_.getAs[Long]("growth_ppm") === 0L))
      // balance recovered: the fattest cell shrank — the retrained
      // quantizer splits the ballooned region instead of stacking it
      val maxOccAfter = after.map(_.getAs[Long]("n_now")).max
      assert(maxOccAfter < maxOccBefore,
        s"max cell $maxOccBefore -> $maxOccAfter must shrink")
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rebuild commit is a single marker: a torn (uncommitted) " +
      "generation is invisible and a later rebuild paves over it") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("ivf_torn").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 2)
    try {
      Sink.writeIvfIndex(idx, dir)
      val queries = emb.filter(col("vec_id") < 2)
        .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))
      def exhaustive() = Similarity.ivfQueryVectors(
        Sink.readIvfIndex(spark, dir), queries, k = 5, nprobe = 4)
      val pinned = exhaustive().collect().toSeq

      // simulate a crash mid-rebuild: a gen dir with data but NO
      // `fold` log entry — the generational commit makes the whole
      // half-write invisible, so a new celled table is never served
      // against an old quantizer
      val torn = Similarity.buildIvfIndexExact(
        emb.select(col("vec_id"), col("embedding")), nlist = 2, iters = 1)
      Sink.writeIvfIndex(torn, s"$dir/gen-1")
      torn.unpersist()
      assert(Sink.resolveIndexRoot(spark, dir) === dir,
        "uncommitted generation must not resolve")
      assert(exhaustive().collect().toSeq === pinned,
        "queries must still read the committed (flat) layout")

      // a real rebuild after the crash paves over the torn gen dir:
      // force drift past threshold with a skewed ingest
      val skew = emb.filter(col("vec_id") === 0L)
        .select(col("embedding"))
        .crossJoin(spark.range(600000L, 600300L).toDF("vec_id"))
        .select(col("vec_id"), col("embedding"))
      Sink.appendIvfIndex(spark, dir, skew, batchId = 0L)
      val (rebuilt, _) =
        Sink.rebuildIvfIndex(spark, dir, nlist = 4, thresholdPpm = 400000L)
      assert(rebuilt)
      assert(Sink.resolveIndexRoot(spark, dir) === s"$dir/gen-1",
        "recovered rebuild must commit generation 1")
      assert(graft.sinks.IndexLog.read(spark, dir).gen === Some(1L))
      assert(!new java.io.File(s"$dir/celled").exists(),
        "superseded flat layout must be cleaned up")
      // a fresh overwrite build supersedes all generations
      Sink.writeIvfIndex(idx, dir)
      assert(Sink.resolveIndexRoot(spark, dir) === dir)
      assert(!new java.io.File(s"$dir/gen-1").exists())
      assert(exhaustive().collect().toSeq === pinned)
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
