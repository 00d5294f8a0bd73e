package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.sinks.Sink
import graft.streaming.StreamAnnIngest

/** The incremental half of the IVF index lifecycle: vectors streamed
  * into a persisted index join it WITHOUT retraining and become
  * immediately queryable, exactly once across kill/replay.
  *
  *   - build + persist the index on the first half of the corpus;
  *   - epoch 1 streams in one batch of new vectors, then the driver
  *     "dies"; epoch 2 restarts from the checkpoint and ingests more;
  *   - a deliberate REPLAY of epoch 1's files through a fresh query
  *     instance with the same checkpoint must not duplicate vectors
  *     (batch_id-keyed dynamic partition overwrite);
  *   - served queries find ingested vectors (their own embedding ranks
  *     them first) and the probe scan stays partition-pruned.
  */
class StreamAnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private def writeVecFile(
      dir: Path, name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
    val lines = rows.map { case (id, emb) =>
      s"""{"vec_id":$id,"embedding":[${emb.mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def vecStream(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  test("streamed ingest: no retrain, exactly-once across kill/replay, " +
      "ingested vectors immediately queryable and pruned") {
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250 && col("vec_id") < 260)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val idx = Similarity.buildIvfIndexExact(half, nlist = 8, iters = 2)
    val idxDir = Files.createTempDirectory("ann_ingest_idx").toString
    val input = Files.createTempDirectory("ann_ingest_in")
    val checkpoint = Files.createTempDirectory("ann_ingest_ckpt")
    try {
      Sink.writeIvfIndex(idx, idxDir)
      val nBase = spark.read.parquet(s"$idxDir/celled").count()

      def run(): Unit = {
        val q = StreamAnnIngest.ingestWriter(vecStream(input), idxDir)
          .option("checkpointLocation", checkpoint.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      val (batch1, batch2) = (rest.take(5), rest.drop(5))
      writeVecFile(input, "batch1.json", batch1)
      run() // epoch 1, then the driver "dies"

      // centroids untouched: ingest must never retrain the quantizer
      val loaded1 = Sink.readIvfIndex(spark, idxDir)
      assert(loaded1.centroids.map(_.toSeq).toSeq
        === idx.centroids.map(_.toSeq).toSeq)
      assert(loaded1.celled.count() === nBase + 5)

      writeVecFile(input, "batch2.json", batch2)
      run() // epoch 2 from the same checkpoint

      val loaded2 = Sink.readIvfIndex(spark, idxDir)
      assert(loaded2.celled.count() === nBase + 10)
      // every ingested id present exactly once
      val ingestedIds = loaded2.celled
        .filter(col("vec_id") >= 250).select(col("vec_id"))
        .as[Long].collect().toSeq
      assert(ingestedIds.sorted === rest.map(_._1).sorted)

      // REPLAY: a restart whose sink write was in flight re-runs the
      // SAME micro-batch under the SAME batch id (Spark's foreachBatch
      // replay contract) — simulate it by re-landing epoch 1's rows as
      // batch 0 directly; the dynamic overwrite must land them on top
      // of themselves, not duplicate
      Sink.appendIvfIndex(spark, idxDir,
        batch1.toDF("vec_id", "embedding"), batchId = 0L)
      assert(Sink.readIvfIndex(spark, idxDir).celled.count() === nBase + 10,
        "replayed batches must overwrite their own partitions")

      // ingested vectors are served: each finds itself at rank 1, and
      // the probe plan prunes BOTH the celled and ingested scans
      val queries = batch1.take(2)
        .map { case (id, e) => (id + 1000000L, e) }
        .toDF("query_id", "embedding")
      val res = Similarity.ivfQueryVectors(
        Sink.readIvfIndex(spark, idxDir), queries, k = 3, nprobe = 2)
      val top1 = res.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id")).as[(Long, Long)]
        .collect().toMap
      batch1.take(2).foreach { case (id, _) =>
        assert(top1(id + 1000000L) === id,
          s"ingested vector $id must be its own nearest neighbor")
      }
      val planStr = res.queryExecution.executedPlan.toString
      // the ingested scan lists the committed-batch IN-list first
      val prunes =
        "PartitionFilters: \\[(?:batch_id#\\d+L IN \\([^)]*\\), )?cell#\\d+ IN \\(([^)]+)\\)".r
          .findAllMatchIn(planStr).toSeq
      assert(prunes.size === 2,
        s"both index scans must carry cell partition filters:\n$planStr")
      prunes.foreach(m =>
        assert(m.group(1).split(",").length <= 4,
          s"probe must stay cell-pruned, saw: ${m.group(1)}"))

      // COMPACTION: fold ingested/ back into celled/ — queries must be
      // bit-identical before and after; only the file census changes
      val before = Similarity.ivfQueryVectors(
        Sink.readIvfIndex(spark, idxDir), queries, k = 3, nprobe = 2)
        .collect().toSeq
      val (nRows, nFolded) = Sink.compactIvfIndex(spark, idxDir)
      assert(nRows === nBase + 10)
      assert(nFolded > 0L, "compaction must report the files it folded")
      assert(!new java.io.File(s"$idxDir/ingested").exists(),
        "ingested/ must be dropped after compaction")
      val compacted = Sink.readIvfIndex(spark, idxDir)
      assert(compacted.celled.count() === nBase + 10)
      val after = Similarity.ivfQueryVectors(compacted, queries,
        k = 3, nprobe = 2).collect().toSeq
      assert(after === before,
        "compaction must not change any query result")
      // bounded files per cell directory afterward: the compaction
      // rewrite is N-WAY distributed (hash on (cell, vec_id) across the
      // session parallelism — a hot cell must not serialize into one
      // task), so a dir holds up to numShufflePartitions files, never
      // one per (cell × input file)
      val maxFiles = spark.sessionState.conf.numShufflePartitions
      new java.io.File(s"${Sink.resolveIndexRoot(spark, idxDir)}/celled")
        .listFiles()
        .filter(_.getName.startsWith("cell=")).foreach { d =>
          val files = d.listFiles().count(_.getName.endsWith(".parquet"))
          assert(files >= 1 && files <= maxFiles,
            s"${d.getName}: $files files after compact (cap $maxFiles)")
        }
      // compacting an already-compact index is a no-op report
      assert(Sink.compactIvfIndex(spark, idxDir) === ((nBase + 10, 0L)))
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("the ingest writer's valve folds tombstone pressure mid-stream: " +
      "masked-id mass over threshold triggers the physical fold on the " +
      "foreachBatch thread; serving = base − deleted + streamed") {
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") < 250)
    val newRows = emb.filter(col("vec_id") >= 250 && col("vec_id") < 255)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val idx = Similarity.buildIvfIndexExact(half, nlist = 8, iters = 2)
    val idxDir = Files.createTempDirectory("ann_valve_idx").toString
    val input = Files.createTempDirectory("ann_valve_in")
    val checkpoint = Files.createTempDirectory("ann_valve_ckpt")
    try {
      Sink.writeIvfIndex(idx, idxDir)
      // retention-sweep-shaped delete pressure lands on the index's
      // lineage (a later batch id — streamed ingest batches stay below
      // it, and the mask is by id, so disjoint streamed ids are safe)
      val doomed = half.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"))
      Sink.deleteFromIvfIndex(spark, idxDir, doomed, batchId = 50L)
      assert(new java.io.File(s"$idxDir/tombstones").exists())

      writeVecFile(input, "batch1.json", newRows)
      val q = StreamAnnIngest.ingestWriter(vecStream(input), idxDir,
          maxMaskedIds = 1L)
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try q.processAllAvailable() finally q.stop()

      // the valve fired ON THE INGEST THREAD (single-maintainer by
      // construction): both incremental layouts folded physically
      assert(!new java.io.File(s"$idxDir/tombstones").exists(),
        "valve must fold the tombstones")
      assert(!new java.io.File(s"$idxDir/ingested").exists(),
        "valve must fold the ingested batch too")
      // post-fold pressure reads zero even at the tight threshold
      val (again, _, b2, m2) =
        Sink.compactIvfIndexIfNeeded(spark, idxDir, maxMaskedIds = 1L)
      assert(!again && b2 === 0L && m2 === 0L)

      // served set = base − deleted + streamed, each exactly once
      val served = Sink.readIvfIndex(spark, idxDir).celled
        .select(col("vec_id")).as[Long].collect().toSeq
      val deleted = doomed.as[Long].collect().toSet
      val want = (half.select(col("vec_id")).as[Long].collect().toSet
        -- deleted) ++ newRows.map(_._1)
      assert(served.size === served.distinct.size, "no duplicates")
      assert(served.sorted === want.toSeq.sorted)
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }
}
