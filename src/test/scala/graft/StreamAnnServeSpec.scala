package graft

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.sinks.Sink
import graft.streaming.StreamAnnServe

/** Streaming ANN serving over a RELOADED persisted IVF index:
  *
  *   - epoch 1 serves a micro-batch of external query vectors, then the
  *     driver "dies";
  *   - epoch 2 restarts from the same checkpoint and serves one more;
  *   - per-batch results are bit-equal to the batch
  *     [[Similarity.ivfQueryVectors]] on the same query set (the
  *     batch/streaming parity contract), exactly once per batch id;
  *   - the served plan carries the static `cell IN (...)` PARTITION
  *     filter restricted to ≤ queries × nprobe cells — the prune
  *     receipt: serving reads probe directories, never the corpus.
  */
class StreamAnnServeSpec extends SparkSpec {
  import spark.implicits._

  private def writeQueryFile(
      dir: Path, name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
    val lines = rows.map { case (qid, emb) =>
      s"""{"query_id":$qid,"embedding":[${emb.mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def queryStream(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  test("served stream: kill/recover exactly-once, batch parity, " +
      "partition-pruned probes on the reloaded index") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    val idxDir = Files.createTempDirectory("ann_serve_idx").toString
    val input = Files.createTempDirectory("ann_serve_in")
    val checkpoint = Files.createTempDirectory("ann_serve_ckpt")
    try {
      Sink.writeIvfIndex(idx, idxDir)
      val loaded = Sink.readIvfIndex(spark, idxDir)

      // external query vectors = two corpus embeddings under fresh ids
      // (their cell twins are known: the vector itself at cosine ~1)
      val corpusVecs = emb.filter(col("vec_id").isin(0L, 7L, 11L))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toMap

      // (batchId) -> (rows, planString): replayed batches overwrite
      val served =
        TrieMap.empty[Long, (Seq[(Long, Long, Int)], String)]
      def run(): Unit = {
        val q = StreamAnnServe.servedWriter(
          queryStream(input), loaded, k = 5, nprobe = 2) { (bid, res) =>
          val rows = res.select(col("query_id"), col("vec_id"), col("rank"))
            .as[(Long, Long, Int)].collect().toSeq
          served.put(bid, (rows, res.queryExecution.executedPlan.toString))
          ()
        }
          .option("checkpointLocation", checkpoint.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      writeQueryFile(input, "batch1.json", Seq(
        (1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L))))
      run() // epoch 1, then the driver "dies"

      val epoch1 = served.toMap
      val got1 = epoch1.values.flatMap(_._1).toSeq
      assert(got1.nonEmpty, "epoch 1 must serve results")
      assert(got1.map(_._1).toSet === Set(1000001L, 1000002L))
      // an external query equal to a corpus vector finds its twin at
      // rank 1 (cosine 1 ≥ all, tie → lowest vec_id)
      assert(got1.filter(_._1 == 1000001L).minBy(_._3)._2 === 0L)
      assert(got1.filter(_._1 == 1000002L).minBy(_._3)._2 === 7L)

      // batch/streaming parity: the same query table through the batch
      // entry point yields the identical ranking
      val batchQ = Seq((1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L)))
        .toDF("query_id", "embedding")
      val parity = Similarity.ivfQueryVectors(loaded, batchQ, k = 5, nprobe = 2)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq
      assert(got1.sorted === parity.sorted,
        "streamed batch must equal the batch query path bit for bit")

      // prune receipt: static partition filter, ≤ 2 queries × nprobe 2
      // cells of the 8 on disk
      val plan1 = epoch1.values.head._2
      assert(plan1.contains("PartitionFilters: [cell"),
        s"expected a cell partition filter in:\n$plan1")
      val inList = "PartitionFilters: \\[cell#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(plan1)
      assert(inList.isDefined, s"expected cell IN (...) in:\n$plan1")
      val probed = inList.get.group(1).split(",").length
      assert(probed <= 4, s"probe must touch <= 4 cells, saw $probed")

      // epoch 2: NEW query instance, same checkpoint, one more request
      writeQueryFile(input, "batch2.json", Seq((1000003L, corpusVecs(11L))))
      run()
      assertNoStateStore(checkpoint)

      val epoch2 = served.toMap
      // exactly-once: batch ids never double-count across the restart;
      // epoch-1 batches either kept their results verbatim or were
      // replayed to the identical rows (idempotent by batch id)
      epoch1.foreach { case (bid, (rows, _)) =>
        assert(epoch2(bid)._1.sorted === rows.sorted,
          s"replayed batch $bid must reproduce its rows")
      }
      val got3 = epoch2.values.flatMap(_._1).filter(_._1 == 1000003L).toSeq
      assert(got3.nonEmpty, "epoch 2 must serve the new query")
      assert(got3.minBy(_._3)._2 === 11L)
      assert(got3.map(_._2).toSet.size === got3.size,
        "no duplicate candidates per query")
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("PQ served stream: kill/recover exactly-once, batch parity, " +
      "code-only ADC scan on the reloaded IVF-PQ index") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 2)
    val idxDir = Files.createTempDirectory("ann_servepq_idx").toString
    val input = Files.createTempDirectory("ann_servepq_in")
    val checkpoint = Files.createTempDirectory("ann_servepq_ckpt")
    try {
      Sink.writeIvfPqIndex(idx, model.cents, model.codes, idxDir)
      val (loaded, cents) = Sink.readIvfPqIndex(spark, idxDir)

      val corpusVecs = emb.filter(col("vec_id").isin(0L, 7L, 11L))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toMap

      val served =
        TrieMap.empty[Long, (Seq[(Long, Long, Int)], String)]
      def run(): Unit = {
        val q = StreamAnnServe.servedPqWriter(
          queryStream(input), loaded, cents,
          k = 5, nprobe = 4, rerank = 16) { (bid, res) =>
          val rows = res.select(col("query_id"), col("vec_id"), col("rank"))
            .as[(Long, Long, Int)].collect().toSeq
          served.put(bid, (rows, res.queryExecution.executedPlan.toString))
          ()
        }
          .option("checkpointLocation", checkpoint.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      writeQueryFile(input, "batch1.json", Seq(
        (1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L))))
      run() // epoch 1, then the driver "dies"

      val epoch1 = served.toMap
      val got1 = epoch1.values.flatMap(_._1).toSeq
      assert(got1.nonEmpty, "epoch 1 must serve results")
      assert(got1.map(_._1).toSet === Set(1000001L, 1000002L))
      // an external query equal to a corpus vector has ADC distance 0 to
      // its twin's codes, so the twin survives the shortlist and the
      // exact rerank puts it at rank 1
      assert(got1.filter(_._1 == 1000001L).minBy(_._3)._2 === 0L)
      assert(got1.filter(_._1 == 1000002L).minBy(_._3)._2 === 7L)

      // batch/streaming parity: bit-identical to the batch entry point
      val batchQ = Seq((1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L)))
        .toDF("query_id", "embedding")
      val parity = Similarity.ivfPqQueryVectors(loaded, cents, batchQ,
          nprobe = 4, rerank = 16, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq
      assert(got1.sorted === parity.sorted,
        "streamed batch must equal the batch query path bit for bit")

      // prune receipts: static cell partition filter ≤ 2 queries ×
      // nprobe 4, AND the ADC candidate scan reads codes without the
      // full-width unit vectors (parquet column pruning)
      val plan1 = epoch1.values.head._2
      assert(plan1.contains("PartitionFilters: [cell"),
        s"expected a cell partition filter in:\n$plan1")
      val inList = "PartitionFilters: \\[cell#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(plan1)
      assert(inList.isDefined, s"expected cell IN (...) in:\n$plan1")
      assert(inList.get.group(1).split(",").length <= 8,
        "probe must touch <= 8 cells")
      val codesScan = "ReadSchema: [^\\n]*codes[^\\n]*".r
        .findAllIn(plan1).toSeq
      assert(codesScan.exists(!_.contains("unit")),
        s"ADC scan must project codes WITHOUT unit vectors:\n$plan1")

      // epoch 2: NEW query instance, same checkpoint, one more request
      writeQueryFile(input, "batch2.json", Seq((1000003L, corpusVecs(11L))))
      run()
      assertNoStateStore(checkpoint)

      val epoch2 = served.toMap
      epoch1.foreach { case (bid, (rows, _)) =>
        assert(epoch2(bid)._1.sorted === rows.sorted,
          s"replayed batch $bid must reproduce its rows")
      }
      val got3 = epoch2.values.flatMap(_._1).filter(_._1 == 1000003L).toSeq
      assert(got3.nonEmpty, "epoch 2 must serve the new query")
      assert(got3.minBy(_._3)._2 === 11L)
      assert(got3.map(_._2).toSet.size === got3.size,
        "no duplicate candidates per query")
    } finally {
      idx.unpersist()
      model.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("LSH served stream: kill/recover exactly-once, batch parity, " +
      "bucket-pruned probes signed with the persisted planes") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildLshIndex(emb, nBits = 64, bands = 16, dim = 64)
    val idxDir = Files.createTempDirectory("ann_servelsh_idx").toString
    val input = Files.createTempDirectory("ann_servelsh_in")
    val checkpoint = Files.createTempDirectory("ann_servelsh_ckpt")
    try {
      Sink.writeLshIndex(idx, idxDir)
      val loaded = Sink.readLshIndex(spark, idxDir)

      val corpusVecs = emb.filter(col("vec_id").isin(0L, 7L, 11L))
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toMap

      val served =
        TrieMap.empty[Long, (Seq[(Long, Long, Int)], String)]
      def run(): Unit = {
        val q = StreamAnnServe.servedLshWriter(
          queryStream(input), loaded, k = 5) { (bid, res) =>
          val rows = res.select(col("query_id"), col("vec_id"), col("rank"))
            .as[(Long, Long, Int)].collect().toSeq
          served.put(bid, (rows, res.queryExecution.executedPlan.toString))
          ()
        }
          .option("checkpointLocation", checkpoint.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      writeQueryFile(input, "batch1.json", Seq(
        (1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L))))
      run() // epoch 1, then the driver "dies"

      val epoch1 = served.toMap
      val got1 = epoch1.values.flatMap(_._1).toSeq
      assert(got1.nonEmpty, "epoch 1 must serve results")
      // a query equal to a corpus vector shares every band bucket with
      // its twin → the twin is always a candidate and ranks first
      assert(got1.filter(_._1 == 1000001L).minBy(_._3)._2 === 0L)
      assert(got1.filter(_._1 == 1000002L).minBy(_._3)._2 === 7L)

      // batch/streaming parity
      val batchQ = Seq((1000001L, corpusVecs(0L)), (1000002L, corpusVecs(7L)))
        .toDF("query_id", "embedding")
      val parity = Similarity.lshQueryVectors(loaded, batchQ, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq
      assert(got1.sorted === parity.sorted,
        "streamed batch must equal the batch query path bit for bit")

      // prune receipt: a static partition filter constraining band
      val plan1 = epoch1.values.head._2
      assert("PartitionFilters: \\[[^\\]]*band".r
        .findFirstIn(plan1).isDefined,
        s"postings scan must carry a band/bucket filter:\n$plan1")

      // epoch 2: restart from the same checkpoint
      writeQueryFile(input, "batch2.json", Seq((1000003L, corpusVecs(11L))))
      run()
      assertNoStateStore(checkpoint)
      val epoch2 = served.toMap
      epoch1.foreach { case (bid, (rows, _)) =>
        assert(epoch2(bid)._1.sorted === rows.sorted,
          s"replayed batch $bid must reproduce its rows")
      }
      val got3 = epoch2.values.flatMap(_._1).filter(_._1 == 1000003L).toSeq
      assert(got3.nonEmpty && got3.minBy(_._3)._2 === 11L)
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("ivfQueryVectors: recall vs brute force clears the ivf floor on " +
      "external vectors; bruteForceTopKVectors ranks its twin first") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 16, iters = 2)
    try {
      val queries = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopKVectors(emb, queries, k = 10)
      // the twin corpus vector is rank 1 for every external query
      val top1 = exact.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id")).as[(Long, Long)]
        .collect().toMap
      (0L to 4L).foreach(i => assert(top1(1000000L + i) === i))
      val audit = Similarity.annRecallAudit(
        Similarity.ivfQueryVectors(idx, queries, k = 10, nprobe = 12),
        exact, k = 10, floor = 0.6)
        .as[(Long, Long, Boolean)].collect().toSeq
      assert(audit.map(_._1) === (0 to 4).map(1000000L + _))
      assert(audit.forall(_._2 === 10L))
      assert(audit.forall(_._3), s"recall floor violated: $audit")
    } finally idx.unpersist()
  }

  test("served stream absorbs EMPTY and poison micro-batches: a " +
      "zero-row file, a zero vector, and a wrong-dimension request " +
      "produce no rows and never kill the query") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    val idxDir = Files.createTempDirectory("ann_empty_idx").toString
    val input = Files.createTempDirectory("ann_empty_in")
    val checkpoint = Files.createTempDirectory("ann_empty_ckpt")
    try {
      Sink.writeIvfIndex(idx, idxDir)
      val loaded = Sink.readIvfIndex(spark, idxDir)
      val served = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Long, Long)]]
      val q = StreamAnnServe.servedWriter(
        queryStream(input), loaded, k = 5, nprobe = 4) { (bid, res) =>
        served.put(bid, res.select(col("query_id"), col("vec_id"))
          .as[(Long, Long)].collect().toSeq)
        ()
      }
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try {
        // an EMPTY micro-batch (zero-row file — real under triggers)
        Files.write(input.resolve("b1.json"), Array.empty[Byte])
        q.processAllAvailable()
        // poison requests: all-zero vector (normalized() would throw)
        // and a wrong-dimension vector (the distance kernel would) —
        // both rejected PER REQUEST by the servableQuery guard
        writeQueryFile(input, "b2.json", Seq(
          (50L, Seq.fill(64)(0.0f)), (51L, Seq(1.0f, 2.0f))))
        q.processAllAvailable()
        assert(q.exception.isEmpty,
          s"poison batch must not kill the stream: ${q.exception}")
        assert(served.values.flatten.isEmpty,
          "no rows for empty/poison batches")
        // the stream still serves real requests afterwards
        val v0 = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<float>"))
          .as[Seq[Float]].head
        writeQueryFile(input, "b3.json", Seq((52L, v0)))
        q.processAllAvailable()
        assert(q.exception.isEmpty)
        val rows = served.values.flatten.toSeq
        assert(rows.nonEmpty && rows.forall(_._1 == 52L),
          "serving resumes after the absorbed batches")
      } finally q.stop()
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }
}
