package graft

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Clustering, Similarity, TextAnalysis}
import graft.sinks.Sink
import graft.streaming.StreamTextServe

/** The retrieval-serving surface: the integer-lattice ANN probe that
  * makes hybrid retrieval hash-checkable (cell-prune receipt + a
  * driver-side replay of the probe selection), multi-leg RRF semantics,
  * hybrid and snippet batch/stream parity, the optional phrase/proximity
  * BOOST legs (3–4-leg serving requests), the results-page call (fusion
  * + snippet evidence in one batch), per-request rejection of oversized
  * proximity requests, the pre-positions-layout fail-fast, and EMPTY
  * micro-batches through the serving writers.
  */
class HybridRetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------ integer-lattice probe

  test("intProbe: probed cells replay from the quantized centroids, " +
      "the scan is partition-pruned, candidates never leak from " +
      "unprobed cells") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    val dir = Files.createTempDirectory("intprobe_idx").toString
    try {
      Sink.writeIvfIndex(idx, dir)
      val loaded = Sink.readIvfIndex(spark, dir)
      assert(loaded.hasQuantizedCentroids,
        "qcentroids must survive the parquet round-trip")
      assert(loaded.qcents.map(_.toSeq).toSeq
        === idx.qcents.map(_.toSeq).toSeq)

      val nprobe = 3
      val queries = emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val res = Similarity.ivfQueryVectorsIntProbe(
        loaded, queries, k = 5, nprobe = nprobe)
      val rows = res.collect()

      // replay the probe selection driver-side in plain integer
      // arithmetic — exactly what the DuckDB oracle does
      val qvecs = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      def latt(e: Seq[Double]): Seq[Long] =
        e.map(x => math.round((x + Clustering.Shift) * Clustering.Scale))
      val perQueryProbe = qvecs.map { case (qid, e) =>
        val q = latt(e)
        val byDist = loaded.qcents.zipWithIndex.map { case (c, j) =>
          (c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.sorted.take(nprobe).map(_._2).toSet
        qid -> byDist
      }.toMap

      // the static partition filter is the probe UNION
      val planStr = res.queryExecution.executedPlan.toString
      val inList = "PartitionFilters: \\[cell#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(planStr)
      assert(inList.isDefined,
        s"expected a static cell IN partition filter in:\n$planStr")
      val probedCells = inList.get.group(1).split(",")
        .map(_.trim.toInt).toSet
      assert(probedCells === perQueryProbe.values.flatten.toSet,
        "partition filter must be exactly the replayed probe union")

      // per query: results are exactly the cosine top-k over ITS probed
      // cells (self-excluded) — no leak from unprobed cells, no miss
      val assign = loaded.celled.select(col("vec_id"), col("cell"))
        .as[(Long, Int)].collect().toMap
      for ((qid, probeSet) <- perQueryProbe) {
        val got = rows.filter(_.getLong(0) == qid)
          .map(r => (r.getLong(1), r.getInt(3)))
        got.foreach { case (vid, _) =>
          assert(probeSet.contains(assign(vid)),
            s"candidate $vid leaked from unprobed cell ${assign(vid)}")
        }
        val memberIds = assign.collect {
          case (vid, c) if probeSet.contains(c) && vid != qid => vid
        }.toSet
        val expect = Similarity.bruteForceTopKVectors(
          emb.filter(col("vec_id").isin(memberIds.toSeq: _*)),
          queries.filter(col("query_id") === qid), k = 5)
          .select(col("vec_id"), col("rank"))
          .as[(Long, Int)].collect().toSeq
        assert(got.toSeq === expect,
          s"query $qid: in-cell ranking must equal exact cosine over " +
            "the probed members")
      }
    } finally {
      idx.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("intProbe refuses a float-trained index (no quantized centroids)") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(emb, nlist = 4)
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfQueryVectorsIntProbe(idx,
          emb.limit(1).select(col("vec_id").as("query_id"),
            col("embedding")), k = 3)
      }
      assert(e.getMessage.contains("exact-Lloyd"))
    } finally idx.unpersist()
  }

  // -------------------------------------------------------- RRF semantics

  test("rrfFuseAll: one cascade keyed by (query_id, doc_id) — per-query " +
      "isolation, n_legs evidence, and 2-leg wrapper parity") {
    def leg(rows: (Long, Long, Long)*): DataFrame =
      rows.toSeq.toDF("query_id", "doc_id", "rank")
    val lex = leg((0L, 10L, 1L), (0L, 11L, 2L), (1L, 10L, 1L))
    val phr = leg((0L, 11L, 1L), (0L, 12L, 2L))
    val sem = leg((0L, 12L, 1L), (0L, 10L, 2L), (0L, 13L, 3L),
      (1L, 99L, 1L))
    val got = TextAnalysis.rrfFuseAll(Seq(lex, phr, sem), kConst = 60L,
        k = 10)
      .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
        col("n_legs"), col("rank"))
      .as[(Long, Long, Long, Int, Int)].collect().toSeq

    def ppm(ranks: Long*): Long = ranks.map(r => 1000000L / (60L + r)).sum
    // query 0: all of 10/11/12 tie at ppm(1)+ppm(2); 13 trails with one leg
    val q0 = got.filter(_._1 == 0L)
    assert(q0.map(d => (d._2, d._3, d._4)) === Seq(
      (10L, ppm(1, 2), 2), (11L, ppm(2, 1), 2), (12L, ppm(2, 1), 2),
      (13L, ppm(3), 1)))
    assert(q0.map(_._5) === Seq(1, 2, 3, 4), "per-query dense ranks")
    // query 1 must NOT see query 0's ranks (the multi-query hazard the
    // doc_id-only join had)
    val q1 = got.filter(_._1 == 1L)
    assert(q1.map(d => (d._2, d._3, d._4)) === Seq(
      (10L, ppm(1), 1), (99L, ppm(1), 1)))

    // 2-leg wrapper ≡ 2-leg cascade (flags included)
    val l0 = lex.filter(col("query_id") === 0).drop("query_id")
    val s0 = sem.filter(col("query_id") === 0).drop("query_id")
    val viaWrapper = TextAnalysis.rrfFuse(l0, s0, 60L, 10)
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    val viaAll = TextAnalysis.rrfFuseAll(
      Seq(l0.withColumn("query_id", lit(0L)),
        s0.withColumn("query_id", lit(0L))), 60L, 10)
      .select(col("doc_id"), col("rrf_ppm")).as[(Long, Long)]
      .collect().toSeq
    assert(viaWrapper.map(r => (r._1, r._2)) === viaAll)
  }

  // --------------------------------------- hybrid serving: batch + stream

  private def writeHybridRequestFile(
      dir: Path, name: String,
      rows: Seq[(Long, Seq[String], Seq[Double])]): Unit = {
    val lines = rows.map { case (qid, terms, e) =>
      s"""{"query_id":$qid,"terms":[${terms.map(t => s""""$t"""")
        .mkString(",")}],"embedding":[${e.mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def hybridRequestStream(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType)),
      StructField("embedding", ArrayType(DoubleType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  test("hybrid serving: batch ≡ per-query singles ≡ streaming, and an " +
      "EMPTY micro-batch is answered with zero rows, not a failure") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("hyb_text").toString
    val annDir = Files.createTempDirectory("hyb_ann").toString
    val input = Files.createTempDirectory("hyb_in")
    val ckpt = Files.createTempDirectory("hyb_ckpt")
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 16)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)
      val embRows = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Long, Seq[Double])].collect().toMap
      val reqRows = Seq(
        (0L, Seq("vector", "hash"), embRows(0L)),
        (1L, Seq("merge"), embRows(1L)))
      val reqs = reqRows.toDF("query_id", "terms", "embedding")

      val batch = TextAnalysis.rrfQueryBatch(textIdx, ann, reqs,
          kConst = 60L, k = 10, legK = 20, nprobe = 3)
        .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
          col("n_legs"), col("rank"))
        .as[(Long, Long, Long, Int, Int)].collect().toSeq
      assert(batch.nonEmpty)

      // per-query singles must agree with the batch slice — one probe
      // for the union vs one per request changes I/O, never answers
      for (r <- reqRows) {
        val single = TextAnalysis.rrfQueryBatch(textIdx, ann,
            Seq(r).toDF("query_id", "terms", "embedding"),
            kConst = 60L, k = 10, legK = 20, nprobe = 3)
          .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
            col("n_legs"), col("rank"))
          .as[(Long, Long, Long, Int, Int)].collect().toSeq
        assert(single === batch.filter(_._1 == r._1),
          s"single-request slice for query ${r._1}")
      }

      // streaming twin: same requests through hybridWriter
      val served = TrieMap.empty[Long, Seq[(Long, Long, Long, Int, Int)]]
      def run(): Unit = {
        val q = StreamTextServe.hybridWriter(
          hybridRequestStream(input), textIdx, ann,
          k = 10, legK = 20, nprobe = 3) { (bid, res) =>
          served.put(bid,
            res.select(col("query_id"), col("doc_id"), col("rrf_ppm"),
              col("n_legs"), col("rank"))
              .as[(Long, Long, Long, Int, Int)].collect().toSeq)
          ()
        }
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      writeHybridRequestFile(input, "b1.json", reqRows)
      run()
      assert(served.values.flatten.toSeq.sortBy(r => (r._1, r._5))
        === batch, "stream ≡ batch")

      // an EMPTY micro-batch (a zero-row file — real under triggers)
      // and a degenerate one (empty term list + zero vector) must both
      // produce zero/valid rows and ADVANCE the checkpoint, not fail
      served.clear()
      Files.write(input.resolve("b2.json"), Array.empty[Byte])
      writeHybridRequestFile(input, "b3.json",
        Seq((7L, Seq.empty, Seq.fill(64)(0.0))))
      run()
      val tail = served.values.flatten.toSeq
      // the degenerate request is rejected on BOTH legs per request
      // (empty term list → no lexical work; all-zero embedding → the
      // servableQuery guard, which also keeps `normalized`'s
      // zero-vector error from wedging the stream) — zero answer rows,
      // zero failures
      assert(tail.isEmpty, s"degenerate request must yield no rows: $tail")
      // checkpoint advanced: a fresh real batch is still served
      served.clear()
      writeHybridRequestFile(input, "b4.json", reqRows.take(1))
      run()
      assert(served.values.flatten.toSeq.map(_._1).distinct === Seq(0L),
        "writer still serves after the empty/degenerate batches")
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  private def writeHybridRequestFile4(
      dir: Path, name: String,
      rows: Seq[(Long, Seq[String], Option[Seq[String]],
        Option[Seq[String]], Seq[Double])]): Unit = {
    def arr(ts: Seq[String]) =
      s"[${ts.map(t => s""""$t"""").mkString(",")}]"
    val lines = rows.map { case (qid, terms, phrase, prox, e) =>
      val optional = phrase.map(p => s""","phrase":${arr(p)}""").getOrElse("") +
        prox.map(p => s""","prox_terms":${arr(p)}""").getOrElse("")
      s"""{"query_id":$qid,"terms":${arr(terms)}$optional,""" +
        s""""embedding":[${e.mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def hybridRequestStream4(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType)),
      StructField("phrase", ArrayType(StringType)),
      StructField("prox_terms", ArrayType(StringType)),
      StructField("embedding", ArrayType(DoubleType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  test("hybrid serving BOOST LEGS: phrase/prox_terms columns fuse 3–4 " +
      "legs, per-query nulls degrade to the 2-leg answer, 2-column " +
      "requests stay bit-identical, and batch ≡ streaming") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("hyb4_text").toString
    val annDir = Files.createTempDirectory("hyb4_ann").toString
    val input = Files.createTempDirectory("hyb4_in")
    val ckpt = Files.createTempDirectory("hyb4_ckpt")
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 16)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)
      val embRows = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Long, Seq[Double])].collect().toMap
      // q0: full 4-leg request; q1: boost columns NULL — a mixed batch
      val reqRows = Seq(
        (0L, Seq("vector", "hash", "merge"),
          Some(Seq("table", "hash")), Some(Seq("vector", "hash")),
          embRows(0L)),
        (1L, Seq("table", "hash"), None, None, embRows(1L)))
      val reqs = reqRows.toDF(
        "query_id", "terms", "phrase", "prox_terms", "embedding")

      def rows5(df: DataFrame): Seq[(Long, Long, Long, Int, Int)] =
        df.select(col("query_id"), col("doc_id"), col("rrf_ppm"),
            col("n_legs"), col("rank"))
          .as[(Long, Long, Long, Int, Int)].collect().toSeq
      val got = rows5(TextAnalysis.rrfQueryBatch(textIdx, ann, reqs,
        kConst = 60L, k = 10, legK = 50, nprobe = 3))
      assert(got.nonEmpty)

      // q0 must show boost-leg evidence: at least one doc ranked by
      // 3+ legs (phrase "table hash" and the proximity trio both match
      // this corpus — a silent column-detection failure caps n_legs at 2)
      assert(got.filter(_._1 == 0L).exists(_._4 >= 3),
        s"q0 must fuse boost legs: $got")

      // the hand-composed 4-leg fuse — pins the wiring end to end
      val lex = TextAnalysis.bm25QueryBatch(textIdx,
        reqs.select(col("query_id"), col("terms")), k = 50)
      val phr = TextAnalysis.phraseQueryBatch(textIdx,
        reqs.select(col("query_id"), col("phrase")), k = 50)
      val prx = TextAnalysis.proximityQueryBatch(textIdx,
        reqs.select(col("query_id"), col("prox_terms").as("terms")), k = 50)
      val sem = Similarity.ivfQueryVectorsIntProbe(ann,
          reqs.select(col("query_id"), col("embedding")), k = 50,
          nprobe = 3)
        .withColumnRenamed("vec_id", "doc_id")
      val want = rows5(TextAnalysis.rrfFuseAll(
        Seq(lex, phr, prx, sem), kConst = 60L, k = 10))
      assert(got === want, "rrfQueryBatch ≡ hand-composed 4-leg fuse")

      // q1's null boost columns must degrade to EXACTLY the 2-leg
      // answer — same rows as a request batch without the columns
      val got2 = rows5(TextAnalysis.rrfQueryBatch(textIdx, ann,
        Seq((1L, Seq("table", "hash"), embRows(1L)))
          .toDF("query_id", "terms", "embedding"),
        kConst = 60L, k = 10, legK = 50, nprobe = 3))
      assert(got.filter(_._1 == 1L) === got2,
        "null boost columns ≡ the 2-leg fuse for that query")

      // streaming twin over the extended schema
      val served =
        TrieMap.empty[Long, Seq[(Long, Long, Long, Int, Int)]]
      writeHybridRequestFile4(input, "b1.json", reqRows)
      val q = StreamTextServe.hybridWriter(
        hybridRequestStream4(input), textIdx, ann,
        k = 10, legK = 50, nprobe = 3) { (bid, res) =>
        served.put(bid, rows5(res))
        ()
      }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(served.values.flatten.toSeq.sortBy(r => (r._1, r._5))
        === got, "4-leg stream ≡ batch")
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("results-page call: fused ranking unchanged, window evidence " +
      "matches the snippet argmin, semantic-only hits carry NULLs, " +
      "and batch ≡ streaming") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("rsp_text").toString
    val annDir = Files.createTempDirectory("rsp_ann").toString
    val input = Files.createTempDirectory("rsp_in")
    val ckpt = Files.createTempDirectory("rsp_ckpt")
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 16)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)
      val embRows = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Long, Seq[Double])].collect().toMap
      val reqRows = Seq(
        (0L, Seq("vector", "hash", "merge"), embRows(0L)),
        (1L, Seq("table", "hash"), embRows(1L)))
      val reqs = reqRows.toDF("query_id", "terms", "embedding")

      val page = TextAnalysis.rrfSnippetQueryBatch(textIdx, ann, docs,
          reqs, kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .collect().toSeq
      assert(page.nonEmpty)

      // 1. the fused ranking is EXACTLY rrfQueryBatch's — the snippet
      // pass annotates, never re-ranks
      val fused = TextAnalysis.rrfQueryBatch(textIdx, ann, reqs,
          kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
          col("n_legs"), col("rank"))
        .as[(Long, Long, Long, Int, Int)].collect().toSeq
      assert(page.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4))) === fused)

      // 2. evidence semantics per winner: a doc containing EVERY
      // request term carries a window whose snippet (a) has exactly
      // window_len tokens and (b) contains every term; a doc missing a
      // term carries NULL evidence (the semantic-only hit)
      val termsByQ = reqRows.map(r => r._1 -> r._2.toSet).toMap
      val tokensByDoc = docs
        .filter(col("doc_id").isin(page.map(_.getLong(1)).distinct: _*))
        .select(col("doc_id"),
          split(graft.operators.Dedup.normText(col("text")), " ")
            .as("toks"))
        .as[(Long, Seq[String])].collect().toMap
      var withWin = 0
      var withoutWin = 0
      page.foreach { r =>
        val (qid, did) = (r.getLong(0), r.getLong(1))
        val hasAll = termsByQ(qid).subsetOf(tokensByDoc(did).toSet)
        if (hasAll) {
          withWin += 1
          assert(!r.isNullAt(5) && !r.isNullAt(7),
            s"full-coverage winner ($qid,$did) must carry evidence")
          val snip = r.getString(7).split(" ").toSeq
          assert(snip.size === r.getLong(5).toInt,
            "snippet spans exactly window_len tokens")
          assert(termsByQ(qid).subsetOf(snip.toSet),
            s"the min window must contain every term: $snip")
        } else {
          withoutWin += 1
          assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7),
            s"semantic-only winner ($qid,$did) must carry NULL evidence")
        }
      }
      assert(withWin > 0, "fixture must exercise the evidence path")
      assert(withoutWin > 0,
        "fixture must exercise the semantic-only NULL path")

      // 3. the window argmin agrees with snippetQueryBatch's (computed
      // over ALL candidate docs, then restricted to shared pairs)
      val snipAll = TextAnalysis.snippetQueryBatch(textIdx, docs,
          reqs.select(col("query_id"), col("terms")), k = 10000)
        .select(col("query_id"), col("doc_id"), col("window_len"),
          col("win_start"), col("snippet"))
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      page.filter(!_.isNullAt(5)).foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        assert(snipAll(key) ===
          ((r.getLong(5), r.getLong(6), r.getString(7))),
          s"evidence for $key must equal the snippet argmin")
      }

      // 4. streaming twin
      val served = TrieMap.empty[Long, Seq[String]]
      writeHybridRequestFile(input, "b1.json", reqRows)
      val q = StreamTextServe.hybridSnippetWriter(
        hybridRequestStream(input), textIdx, ann, docs,
        k = 15, legK = 30, nprobe = 3) { (bid, res) =>
        served.put(bid, res.collect().toSeq.map(_.toString))
        ()
      }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(served.values.flatten.toSeq.sorted
        === page.map(_.toString).sorted, "stream ≡ batch")
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("results-page PHRASE evidence: a winner containing the exact " +
      "phrase is highlighted at its FIRST occurrence; non-containing " +
      "winners keep the terms window; null phrase degrades exactly; " +
      "batch ≡ streaming") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("rspp_text").toString
    val annDir = Files.createTempDirectory("rspp_ann").toString
    val input = Files.createTempDirectory("rspp_in")
    val ckpt = Files.createTempDirectory("rspp_ckpt")
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 16)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)
      val embRows = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Long, Seq[Double])].collect().toMap
      val phraseByQ = Map(0L -> Seq("table", "hash"),
        1L -> Seq("vector", "hash"))
      val reqRows = Seq(
        (0L, Seq("vector", "hash", "merge"), phraseByQ(0L), embRows(0L)),
        (1L, Seq("table", "hash"), phraseByQ(1L), embRows(1L)))
      val reqs = reqRows.toDF("query_id", "terms", "phrase", "embedding")

      val page = TextAnalysis.rrfSnippetQueryBatch(textIdx, ann, docs,
          reqs, kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .collect().toSeq
      assert(page.nonEmpty)

      // 1. ranking is EXACTLY the 3-leg rrfQueryBatch's — evidence
      // annotates, never re-ranks
      val fused = TextAnalysis.rrfQueryBatch(textIdx, ann, reqs,
          kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
          col("n_legs"), col("rank"))
        .as[(Long, Long, Long, Int, Int)].collect().toSeq
      assert(page.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4))) === fused)

      // 2. per-winner evidence against hand-derived ground truth
      val termsByQ = reqRows.map(r => r._1 -> r._2.toSet).toMap
      val tokensByDoc = docs
        .filter(col("doc_id").isin(page.map(_.getLong(1)).distinct: _*))
        .select(col("doc_id"),
          split(graft.operators.Dedup.normText(col("text")), " ")
            .as("toks"))
        .as[(Long, Seq[String])].collect().toMap
      def firstPhraseStart(toks: Seq[String], ph: Seq[String]): Option[Int] =
        toks.sliding(ph.size).zipWithIndex
          .collectFirst { case (win, i) if win == ph => i }
      val snipAll = TextAnalysis.snippetQueryBatch(textIdx, docs,
          reqs.select(col("query_id"), col("terms")), k = 10000)
        .select(col("query_id"), col("doc_id"), col("window_len"),
          col("win_start"), col("snippet"))
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      var phraseHits = 0
      var termHits = 0
      var nulls = 0
      page.foreach { r =>
        val (qid, did) = (r.getLong(0), r.getLong(1))
        val ph = phraseByQ(qid)
        firstPhraseStart(tokensByDoc(did), ph) match {
          case Some(start) =>
            phraseHits += 1
            assert(r.getLong(5) === ph.size.toLong &&
              r.getLong(6) === start.toLong &&
              r.getString(7) === ph.mkString(" "),
              s"phrase winner ($qid,$did) must carry the FIRST " +
                s"exact-phrase window, got (${r.get(5)},${r.get(6)}," +
                s"${r.get(7)})")
          case None if termsByQ(qid).subsetOf(tokensByDoc(did).toSet) =>
            termHits += 1
            assert(snipAll((qid, did)) ===
              ((r.getLong(5), r.getLong(6), r.getString(7))),
              s"non-phrase winner ($qid,$did) keeps the terms argmin")
          case None =>
            nulls += 1
            assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7),
              s"semantic-only winner ($qid,$did) must carry NULLs")
        }
      }
      assert(phraseHits > 0, "fixture must exercise the phrase window")
      assert(termHits > 0, "fixture must exercise the terms fallback")
      assert(nulls > 0, "fixture must exercise the NULL path")

      // 3. an all-null phrase column degrades to EXACTLY the
      // phrase-less call (terms evidence only, 2-leg fuse)
      val nullPhrase = TextAnalysis.rrfSnippetQueryBatch(textIdx, ann,
          docs,
          reqRows.map(r => (r._1, r._2, Option.empty[Seq[String]], r._4))
            .toDF("query_id", "terms", "phrase", "embedding"),
          kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .collect().toSeq.map(_.toString)
      val noColumn = TextAnalysis.rrfSnippetQueryBatch(textIdx, ann,
          docs,
          reqRows.map(r => (r._1, r._2, r._4))
            .toDF("query_id", "terms", "embedding"),
          kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .collect().toSeq.map(_.toString)
      assert(nullPhrase === noColumn,
        "null phrase column ≡ the phrase-less results-page call")

      // 4. streaming twin over the phrase-bearing schema
      val served = TrieMap.empty[Long, Seq[String]]
      writeHybridRequestFile4(input, "b1.json",
        reqRows.map(r => (r._1, r._2, Some(r._3), None, r._4)))
      val q = StreamTextServe.hybridSnippetWriter(
        hybridRequestStream4(input), textIdx, ann, docs,
        k = 15, legK = 30, nprobe = 3) { (bid, res) =>
        served.put(bid, res.collect().toSeq.map(_.toString))
        ()
      }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(served.values.flatten.toSeq.sorted
        === page.map(_.toString).sorted, "phrase-evidence stream ≡ batch")
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("MAXIMAL results page (r16): 4-leg fusion AND phrase-preferential " +
      "evidence in one call — ranking ≡ rrfQueryBatch's 4-leg stack, " +
      "phrase-bearing winners carry the phrase window, and the " +
      "streaming twin is bit-identical") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("page4_text").toString
    val annDir = Files.createTempDirectory("page4_ann").toString
    val input = Files.createTempDirectory("page4_in")
    val ckpt = Files.createTempDirectory("page4_ckpt")
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 16)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)
      val embRows = emb.filter(col("vec_id") < 2)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Long, Seq[Double])].collect().toMap
      val reqRows = Seq(
        (0L, Seq("vector", "hash", "merge"), Seq("table", "hash"),
          Seq("vector", "hash", "merge"), embRows(0L)),
        (1L, Seq("table", "hash"), Seq("vector", "hash"),
          Seq("table", "hash"), embRows(1L)))
      val reqs = reqRows.toDF(
        "query_id", "terms", "phrase", "prox_terms", "embedding")

      val page = TextAnalysis.rrfSnippetQueryBatch(textIdx, ann, docs,
          reqs, kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .collect().toSeq
      assert(page.nonEmpty)

      // 1. ranking ≡ the 4-leg fuse (evidence annotates, never re-ranks)
      val fused = TextAnalysis.rrfQueryBatch(textIdx, ann, reqs,
          kConst = 60L, k = 15, legK = 30, nprobe = 3)
        .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
          col("n_legs"), col("rank"))
        .as[(Long, Long, Long, Int, Int)].collect().toSeq
      assert(page.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4))) === fused)
      assert(fused.exists(_._4 >= 3),
        "the fixture must genuinely fuse boost legs on this page")

      // 2. evidence preference: a winner containing the FULL phrase
      // carries window_len == |phrase| with the snippet EQUAL to the
      // phrase; a term-covered winner without the phrase keeps the
      // terms min-window; others are NULL
      val phraseByQ = reqRows.map(r => r._1 -> r._3).toMap
      val termsByQ = reqRows.map(r => r._1 -> r._2.toSet).toMap
      val tokensByDoc = docs
        .filter(col("doc_id").isin(page.map(_.getLong(1)).distinct: _*))
        .select(col("doc_id"),
          split(graft.operators.Dedup.normText(col("text")), " ")
            .as("toks"))
        .as[(Long, Seq[String])].collect().toMap
      def containsPhrase(toks: Seq[String], ph: Seq[String]): Boolean =
        toks.sliding(ph.size).contains(ph)
      var phraseWins = 0
      var termWins = 0
      page.foreach { r =>
        val (qid, did) = (r.getLong(0), r.getLong(1))
        val toks = tokensByDoc(did)
        val ph = phraseByQ(qid)
        if (containsPhrase(toks, ph)) {
          phraseWins += 1
          assert(r.getLong(5) === ph.size.toLong &&
            r.getString(7) === ph.mkString(" "),
            s"phrase-bearing winner ($qid,$did) must carry the phrase " +
              s"window, got ${r.toString}")
        } else if (termsByQ(qid).subsetOf(toks.toSet)) {
          termWins += 1
          assert(!r.isNullAt(5) &&
            termsByQ(qid).subsetOf(r.getString(7).split(" ").toSet),
            s"term-covered winner ($qid,$did) keeps the terms window")
        } else assert(r.isNullAt(5) && r.isNullAt(7),
          s"uncovered winner ($qid,$did) stays NULL")
      }
      assert(phraseWins > 0 && termWins > 0,
        "the fixture must exercise BOTH evidence branches on one page")

      // 3. streaming twin over the full 4-column schema
      val served = TrieMap.empty[Long, Seq[String]]
      writeHybridRequestFile4(input, "b1.json",
        reqRows.map(r => (r._1, r._2, Some(r._3), Some(r._4), r._5)))
      val q = StreamTextServe.hybridSnippetWriter(
        hybridRequestStream4(input), textIdx, ann, docs,
        k = 15, legK = 30, nprobe = 3) { (bid, res) =>
        served.put(bid, res.collect().toSeq.map(_.toString))
        ()
      }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(served.values.flatten.toSeq.sorted
        === page.map(_.toString).sorted, "maximal page: stream ≡ batch")
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("duplicate query_id rejection (r16): the phrase/proximity/hybrid " +
      "entries throw loudly — their recurrences key per-query state by " +
      "query_id, so a duplicated id would silently corrupt (phrase_len " +
      "sums across rows and matches nothing)") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val emb = Tables.embeddings(spark, sf)
    val textDir = Files.createTempDirectory("dupq_text").toString
    val annDir = Files.createTempDirectory("dupq_ann").toString
    val annIdx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
    try {
      Sink.writeTextIndex(docs, textDir, buckets = 8)
      Sink.writeIvfIndex(annIdx, annDir)
      val textIdx = Sink.readTextIndex(spark, textDir)
      val ann = Sink.readIvfIndex(spark, annDir)

      val dupPhrase = Seq(
        (7L, Seq("table", "hash")), (7L, Seq("vector", "hash")))
        .toDF("query_id", "phrase")
      val e1 = intercept[IllegalArgumentException] {
        TextAnalysis.phraseQueryBatch(textIdx, dupPhrase, k = 5)
      }
      assert(e1.getMessage.contains("duplicate query_id"))

      val dupTerms = Seq(
        (7L, Seq("table", "hash")), (7L, Seq("vector")))
        .toDF("query_id", "terms")
      val e2 = intercept[IllegalArgumentException] {
        TextAnalysis.proximityQueryBatch(textIdx, dupTerms, k = 5)
      }
      assert(e2.getMessage.contains("duplicate query_id"))
      val e2b = intercept[IllegalArgumentException] {
        TextAnalysis.snippetQueryBatch(textIdx, docs, dupTerms, k = 5)
      }
      assert(e2b.getMessage.contains("duplicate query_id"),
        "the snippet entry shares the min-window recurrence and the " +
          "contract")

      val emb0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("e"))
        .as[Seq[Double]].head()
      val dupHybrid = Seq(
        (7L, Seq("table", "hash"), emb0), (7L, Seq("vector"), emb0))
        .toDF("query_id", "terms", "embedding")
      val e3 = intercept[IllegalArgumentException] {
        TextAnalysis.rrfQueryBatch(textIdx, ann, dupHybrid, k = 5)
      }
      assert(e3.getMessage.contains("duplicate query_id"))
      val e4 = intercept[IllegalArgumentException] {
        TextAnalysis.rrfSnippetQueryBatch(textIdx, ann, docs, dupHybrid,
          k = 5)
      }
      assert(e4.getMessage.contains("duplicate query_id"))

      // unique ids with identical CONTENT are fine — the contract is
      // per-id, not per-payload
      val okReqs = Seq(
        (7L, Seq("table", "hash"), emb0), (8L, Seq("table", "hash"), emb0))
        .toDF("query_id", "terms", "embedding")
      assert(TextAnalysis.rrfQueryBatch(textIdx, ann, okReqs, k = 5)
        .count() > 0)
    } finally {
      annIdx.unpersist()
      Seq(textDir, annDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("r17: the duplicate/null query_id contract is JOB-FREE — it " +
      "rides the request collect the entries already pay, so a " +
      "driver-local batch rejects with ZERO Spark jobs (the idle-valve " +
      "sentinel idiom); null ids get their own message") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val dir = Files.createTempDirectory("dupq_free").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 4)
      val idx = Sink.readTextIndex(spark, dir)
      val dupTerms = Seq((1L, Seq("table")), (1L, Seq("hash")))
        .toDF("query_id", "terms")
      val dupPhrase = Seq((1L, Seq("table")), (1L, Seq("hash")))
        .toDF("query_id", "phrase")
      val withNull = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(null, Seq("table")),
          org.apache.spark.sql.Row(java.lang.Long.valueOf(2L),
            Seq("hash"))),
        StructType(Seq(
          StructField("query_id", LongType, nullable = true),
          StructField("terms", ArrayType(StringType), nullable = true))))
      val sc = spark.sparkContext
      // warm-up OUTSIDE the measured group: the very first local
      // collect in a session pays a one-time lazy-init job (measured;
      // not the contract check — the second identical call is clean)
      intercept[IllegalArgumentException] {
        TextAnalysis.phraseQueryBatch(idx, dupPhrase, k = 3)
      }
      sc.setJobGroup("dupq-free", "contract checks on local batches")
      try {
        val e1 = intercept[IllegalArgumentException] {
          TextAnalysis.phraseQueryBatch(idx, dupPhrase, k = 3)
        }
        assert(e1.getMessage.contains("duplicate query_id"))
        val e2 = intercept[IllegalArgumentException] {
          TextAnalysis.proximityQueryBatch(idx, dupTerms, k = 3)
        }
        assert(e2.getMessage.contains("duplicate query_id"))
        val e3 = intercept[IllegalArgumentException] {
          TextAnalysis.proximityQueryBatch(idx, withNull, k = 3)
        }
        assert(e3.getMessage.contains("null query_id"),
          "a null id is its own caller defect, not a misleading " +
            s"'duplicate' — got: ${e3.getMessage}")
        // sentinel job in the SAME group (VectorTombstoneValveSpec
        // idiom): RDD count = exactly one job; once it is visible,
        // any job the checks had launched would be visible too
        assert(sc.parallelize(Seq(1)).count() === 1L)
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def groupJobs(): Array[Int] =
        sc.statusTracker.getJobIdsForGroup("dupq-free")
      while (groupJobs().length < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(groupJobs().length === 1,
        "expected ONLY the sentinel job - the contract check on a " +
          "driver-local request batch (LocalRelation collect) must " +
          s"launch none, saw ${groupJobs().length}")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  // -------------------------------------------- snippet serving + parity

  test("snippet serving: batch slice ≡ single-query snippetTopK, " +
      "streaming twin agrees, empty micro-batch is absorbed") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("snip_idx").toString
    val input = Files.createTempDirectory("snip_in")
    val ckpt = Files.createTempDirectory("snip_ckpt")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 16)
      val idx = Sink.readTextIndex(spark, dir)
      val terms = Seq("vector", "hash")
      val single = TextAnalysis.snippetTopK(idx, docs, terms, k = 5)
        .select(col("doc_id"), col("window_len"), col("win_start"),
          col("snippet"))
        .as[(Long, Long, Long, String)].collect().toSeq
      val batch = TextAnalysis.snippetQueryBatch(idx, docs,
          Seq((3L, terms)).toDF("query_id", "terms"), k = 5)
        .select(col("query_id"), col("doc_id"), col("window_len"),
          col("win_start"), col("snippet"))
        .as[(Long, Long, Long, Long, String)].collect().toSeq
      assert(batch.map(r => (r._2, r._3, r._4, r._5)) === single,
        "batch form must reproduce the single-query snippets")
      assert(batch.forall(_._1 == 3L))

      // streaming twin + an empty micro-batch between real ones
      val served = TrieMap.empty[Long, Seq[(Long, Long, String)]]
      def run(): Unit = {
        val q = StreamTextServe.snippetWriter(
          requestStreamTerms(input), idx, docs, k = 5) { (bid, res) =>
          served.put(bid,
            res.select(col("query_id"), col("doc_id"), col("snippet"))
              .as[(Long, Long, String)].collect().toSeq)
          ()
        }
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      writeTermsRequestFile(input, "b1.json", Seq((3L, terms)))
      run()
      assert(served.values.flatten.toSeq.sortBy(_._2)
        === batch.map(r => (r._1, r._2, r._5)).sortBy(_._2))
      served.clear()
      Files.write(input.resolve("b2.json"), Array.empty[Byte])
      writeTermsRequestFile(input, "b3.json", Seq((4L, terms)))
      run()
      assert(served.values.flatten.forall(_._1 == 4L),
        "serving continues across the empty batch")
    } finally {
      Seq(dir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  private def writeTermsRequestFile(
      dir: Path, name: String, rows: Seq[(Long, Seq[String])]): Unit = {
    val lines = rows.map { case (qid, terms) =>
      s"""{"query_id":$qid,"terms":[${terms.map(t => s""""$t"""")
        .mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  private def requestStreamTerms(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType))))
    spark.readStream.schema(schema).json(dir.toString)
  }

  // ------------------------------------- per-request cap + v1 fail-fast

  test("proximity batch rejects an oversized request INDIVIDUALLY — " +
      "the rest of the batch is served and the stream survives") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("prox_cap_idx").toString
    val input = Files.createTempDirectory("prox_cap_in")
    val ckpt = Files.createTempDirectory("prox_cap_ckpt")
    try {
      Sink.writeTextIndex(docs, dir, buckets = 16)
      val idx = Sink.readTextIndex(spark, dir)
      val nine = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i")
      assert(nine.size > TextAnalysis.MaxProximityTerms - 1)
      val good = Seq("vector", "hash")
      val mixed = TextAnalysis.proximityQueryBatch(idx,
          Seq((1L, nine), (2L, good)).toDF("query_id", "terms"), k = 5)
        .select(col("query_id"), col("doc_id"), col("window_len"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(mixed.nonEmpty && mixed.forall(_._1 == 2L),
        "oversized request answered with nothing; valid one served")
      val alone = TextAnalysis.proximityQueryBatch(idx,
          Seq((2L, good)).toDF("query_id", "terms"), k = 5)
        .select(col("query_id"), col("doc_id"), col("window_len"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(mixed === alone, "rejection must not perturb valid answers")

      // the streaming writer must survive the poison batch
      val served = TrieMap.empty[Long, Long]
      val q = StreamTextServe.proximityWriter(
        requestStreamTerms(input), idx, k = 5) { (bid, res) =>
        served.put(bid, res.count()); ()
      }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        writeTermsRequestFile(input, "b1.json",
          Seq((1L, nine), (2L, good)))
        q.processAllAvailable()
        assert(q.exception.isEmpty, "one bad request must not wedge the " +
          s"stream: ${q.exception}")
        assert(served.values.sum > 0)
      } finally q.stop()
    } finally {
      Seq(dir, input.toString, ckpt.toString).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("pre-positions (v1) layout: positional queries fail fast with a " +
      "rebuild-required error; BM25 keeps working") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val v2dir = Files.createTempDirectory("v2_idx").toString
    val v1dir = Files.createTempDirectory("v1_idx").toString
    try {
      Sink.writeTextIndex(docs, v2dir, buckets = 8)
      val v2 = Sink.readTextIndex(spark, v2dir)
      assert(v2.hasPositions)
      // fabricate the legacy layout: same postings minus the positions
      // column (exactly what a pre-r12 index on disk looks like)
      v2.postings
        .select(col("token"), col("doc_id"), col("tf"), col("dl"),
          col("bucket"))
        .localCheckpoint(true)
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$v1dir/postings")
      spark.read.parquet(s"$v2dir/meta").write.parquet(s"$v1dir/meta")
      // with the commit log that makes it a committed index
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$v2dir/_log"), new java.io.File(s"$v1dir/_log"))
      val v1 = Sink.readTextIndex(spark, v1dir)
      assert(!v1.hasPositions, "v1 layout must be detected off the footer")
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.phraseQueryBatch(v1,
          Seq((0L, Seq("vector", "hash"))).toDF("query_id", "phrase"))
      }
      assert(e.getMessage.contains("rebuild"))
      intercept[IllegalArgumentException] {
        TextAnalysis.proximityTopK(v1, Seq("vector", "hash"))
      }
      intercept[IllegalArgumentException] {
        TextAnalysis.snippetQueryBatch(v1, docs,
          Seq((0L, Seq("vector"))).toDF("query_id", "terms"))
      }
      // BM25 never touches positions — identical answers on both layouts
      val a = TextAnalysis.bm25TopK(v2, Seq("vector", "hash"), k = 5)
        .as[(Long, Long)].collect().toSeq
      val b = TextAnalysis.bm25TopK(v1, Seq("vector", "hash"), k = 5)
        .as[(Long, Long)].collect().toSeq
      assert(a === b && a.nonEmpty)
    } finally {
      Seq(v2dir, v1dir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }
}
