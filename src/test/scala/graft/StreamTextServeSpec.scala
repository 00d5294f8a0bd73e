package graft

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis
import graft.sinks.Sink
import graft.streaming.StreamTextServe

/** Streaming BM25 serving over the reloaded persisted inverted index —
  * the text leg of the StreamAnnServeSpec family: kill/recover
  * exactly-once by batch id, batch/streaming bit parity, and the
  * bucket-prune receipt on the served plan.
  */
class StreamTextServeSpec extends SparkSpec {
  import spark.implicits._

  private def writeRequestFile(
      dir: Path, name: String, rows: Seq[(Long, Seq[String])]): Unit = {
    val lines = rows.map { case (qid, terms) =>
      s"""{"query_id":$qid,"terms":[${terms.map(t => s""""$t"""").mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def requestStream(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  test("served BM25 stream: kill/recover exactly-once, batch parity, " +
      "bucket-pruned probes on the reloaded index") {
    val docs = Tables.documents(spark, sf)
    val idxDir = Files.createTempDirectory("text_serve_idx").toString
    val input = Files.createTempDirectory("text_serve_in")
    val checkpoint = Files.createTempDirectory("text_serve_ckpt")
    try {
      Sink.writeTextIndex(docs, idxDir, buckets = 64)
      val idx = Sink.readTextIndex(spark, idxDir)

      val served =
        TrieMap.empty[Long, (Seq[(Long, Long, Int)], String)]
      def run(): Unit = {
        val q = StreamTextServe.bm25Writer(
          requestStream(input), idx, k = 5) { (bid, res) =>
          val rows = res.select(col("query_id"), col("doc_id"), col("rank"))
            .as[(Long, Long, Int)].collect().toSeq
          served.put(bid, (rows, res.queryExecution.executedPlan.toString))
          ()
        }
          .option("checkpointLocation", checkpoint.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      writeRequestFile(input, "batch1.json", Seq(
        (1L, Seq("vector", "hash")), (2L, Seq("merge"))))
      run() // epoch 1, then the driver "dies"

      val epoch1 = served.toMap
      val got1 = epoch1.values.flatMap(_._1).toSeq
      assert(got1.nonEmpty && got1.map(_._1).toSet === Set(1L, 2L))

      // batch/streaming parity: the same requests through the batch
      // entry point yield the identical ranking
      val batchReq = Seq((1L, Seq("vector", "hash")), (2L, Seq("merge")))
        .toDF("query_id", "terms")
      val parity = TextAnalysis.bm25QueryBatch(idx, batchReq, k = 5)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq
      assert(got1.sorted === parity.sorted,
        "streamed batch must equal the batch query path bit for bit")

      // prune receipt: the served plan carries the static bucket IN
      // filter, <= 3 distinct request terms -> <= 3 of 64 directories
      val plan1 = epoch1.values.head._2
      assert(plan1.contains("PartitionFilters: [bucket"),
        s"expected a bucket partition filter in:\n$plan1")
      val inList = "PartitionFilters: \\[bucket#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(plan1)
      assert(inList.isDefined && inList.get.group(1).split(",").length <= 3)

      // epoch 2: NEW query instance, same checkpoint, one more request
      writeRequestFile(input, "batch2.json", Seq((3L, Seq("vector"))))
      run()
      assertNoStateStore(checkpoint)

      val epoch2 = served.toMap
      epoch1.foreach { case (bid, (rows, _)) =>
        assert(epoch2(bid)._1.sorted === rows.sorted,
          s"replayed batch $bid must reproduce its rows")
      }
      val got3 = epoch2.values.flatMap(_._1).filter(_._1 == 3L).toSeq
      assert(got3.nonEmpty, "epoch 2 must serve the new request")
      // rank-1 doc for a single term agrees with the single-query path
      val single = TextAnalysis.bm25TopK(idx, Seq("vector"), k = 5)
        .as[(Long, Long)].collect().toSeq
      assert(got3.minBy(_._3)._2 === single.head._1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }

  test("served PHRASE stream: batch parity per request, shared pruned " +
      "probe, absent-result requests degrade gracefully") {
    val docs = Seq(
      (1L, "big table hash join"),
      (2L, "table hash table hash scan"),
      (3L, "merge group by key"),
      (4L, "hash table merge group"))
      .toDF("doc_id", "text")
    val idxDir = Files.createTempDirectory("phrase_serve_idx").toString
    val input = Files.createTempDirectory("phrase_serve_in")
    val checkpoint = Files.createTempDirectory("phrase_serve_ckpt")
    try {
      Sink.writeTextIndex(docs, idxDir, buckets = 8)
      val idx = Sink.readTextIndex(spark, idxDir)
      val served = TrieMap.empty[Long, Seq[(Long, Long, Long, Int)]]
      val q = StreamTextServe.phraseWriter(
        requestStream(input).withColumnRenamed("terms", "phrase"),
        idx, k = 5) { (bid, res) =>
        served.put(bid,
          res.select(col("query_id"), col("doc_id"),
            col("n_occurrences"), col("rank"))
            .as[(Long, Long, Long, Int)].collect().toSeq)
        ()
      }
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try {
        writeRequestFile(input, "batch1.json", Seq(
          (10L, Seq("table", "hash")),
          (11L, Seq("merge", "group")),
          (12L, Seq("zzz", "unknown"))))
        q.processAllAvailable()
      } finally q.stop()
      val got = served.values.flatten.toSeq
      // request 12 has no matching terms: absent, not an error row
      assert(got.map(_._1).toSet === Set(10L, 11L))
      // per-request parity with the single-phrase path
      val one10 = TextAnalysis.phraseTopK(idx, Seq("table", "hash"), k = 5)
        .as[(Long, Long)].collect().toSeq
      assert(got.filter(_._1 == 10L).sortBy(_._4)
        .map(r => (r._2, r._3)) === one10)
      val one11 = TextAnalysis.phraseTopK(idx, Seq("merge", "group"), k = 5)
        .as[(Long, Long)].collect().toSeq
      assert(got.filter(_._1 == 11L).sortBy(_._4)
        .map(r => (r._2, r._3)) === one11)

      // the PROXIMITY serving twin on the same index: per-request
      // parity with the single-set path, mixed term-set sizes in one
      // batch, unmatched requests absent
      val proxServed = TrieMap.empty[Long, Seq[(Long, Long, Long, Int)]]
      val proxInput = Files.createTempDirectory("prox_serve_in")
      val pq = StreamTextServe.proximityWriter(
        requestStream(proxInput), idx, k = 5) { (bid, res) =>
        proxServed.put(bid,
          res.select(col("query_id"), col("doc_id"),
            col("window_len"), col("rank"))
            .as[(Long, Long, Long, Int)].collect().toSeq)
        ()
      }
        .option("checkpointLocation",
          Files.createTempDirectory("prox_ckpt").toString)
        .start()
      try {
        writeRequestFile(proxInput, "batch1.json", Seq(
          (20L, Seq("table", "merge")),
          (21L, Seq("hash")),
          (22L, Seq("zzz", "table"))))
        pq.processAllAvailable()
      } finally {
        pq.stop()
        org.apache.commons.io.FileUtils.deleteDirectory(proxInput.toFile)
      }
      val proxGot = proxServed.values.flatten.toSeq
      assert(proxGot.map(_._1).toSet === Set(20L, 21L),
        "a request missing any term ranks no docs")
      Seq(20L -> Seq("table", "merge"), 21L -> Seq("hash")).foreach {
        case (qid, terms) =>
          val single = TextAnalysis.proximityTopK(idx, terms, k = 5)
            .as[(Long, Long)].collect().toSeq
          assert(proxGot.filter(_._1 == qid).sortBy(_._4)
            .map(r => (r._2, r._3)) === single,
            s"batch request $qid must equal the single-set path")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
    }
  }
}
