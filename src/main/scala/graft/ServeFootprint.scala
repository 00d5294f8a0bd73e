package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity
import graft.sinks.Sink
import graft.streaming.StreamAnnServe

/** Checkpoint-footprint receipt for the four serving twins
  * (IVF / IVF-PQ / LSH / text BM25): drive each serving writer through N
  * sustained request micro-batches against its PERSISTED index and
  * record, per batch, the serving latency and the checkpoint directory
  * size — the serving-path analog of the census writers' generation
  * receipts.
  *
  * What "flat" must mean here: the writers are foreachBatch sinks with
  * NO stateful operators, so the checkpoint holds only the source
  * offset/commit logs (a few hundred bytes per batch, retention-bounded
  * by Spark at `minBatchesToRetain`) and NO state store; per-batch
  * latency must not trend upward with batch count (each batch's work is
  * probe-union-bounded, independent of how many batches came before).
  * A state store appearing in the checkpoint, or latency growing with
  * batch index, would mean serving accumulates per-request state — the
  * failure mode this receipt exists to rule out.
  *
  * Run: `sbt "runMain graft.ServeFootprint [nBatches] [sfDir]"` — prints
  * one line per (flavor, batch) plus a flavor summary; results are
  * recorded in SCALING.md.
  */
object ServeFootprint {

  private def dirBytes(p: java.io.File): Long =
    if (!p.exists()) 0L
    else if (p.isFile) p.length()
    else Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  private def writeQueryFile(
      dir: Path, name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
    val lines = rows.map { case (qid, emb) =>
      s"""{"query_id":$qid,"embedding":[${emb.mkString(",")}]}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = Tables.embeddings(spark, sfDir)
    val reqPool = emb.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()

    def queryStream(dir: Path): DataFrame = {
      val schema = StructType(Seq(
        StructField("query_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      spark.readStream.schema(schema).json(dir.toString)
    }

    /** Drive one flavor: start writer, feed nBatches request files of 20
      * vectors each (processAllAvailable between feeds = one micro-batch
      * per file), record per-batch seconds + checkpoint bytes.
      */
    def drive(flavor: String)(
        mkWriter: DataFrame => ((Long, DataFrame) => Unit) =>
          org.apache.spark.sql.streaming.DataStreamWriter[
            org.apache.spark.sql.Row]): Unit = {
      val input = Files.createTempDirectory(s"sf_${flavor}_in")
      val checkpoint = Files.createTempDirectory(s"sf_${flavor}_ckpt")
      var servedRows = 0L
      val q = mkWriter(queryStream(input)) { (_, res) =>
        servedRows += res.count()
      }
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try {
        val times = (0 until nBatches).map { b =>
          val rows = (0 until 20).map { i =>
            val (vid, e) = reqPool((b * 20 + i) % reqPool.length)
            (1000000L + b * 1000L + vid + i, e)
          }
          writeQueryFile(input, f"batch$b%03d.json", rows)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val ckpt = dirBytes(checkpoint.toFile)
          val state = dirBytes(checkpoint.resolve("state").toFile)
          println(f"$flavor%-6s batch=$b%2d  $sec%6.2f s  " +
            f"ckpt=$ckpt%7d B  state=$state%d B")
          sec
        }
        val firstHalf = times.take(nBatches / 2).sum / (nBatches / 2)
        val secondHalf = times.drop(nBatches / 2).sum /
          (nBatches - nBatches / 2)
        println(f"$flavor%-6s summary: served=$servedRows rows  " +
          f"mean(first half)=$firstHalf%5.2f s  " +
          f"mean(second half)=$secondHalf%5.2f s  " +
          f"ckpt final=${dirBytes(checkpoint.toFile)}%d B")
      } finally {
        q.stop()
        org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
        org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
      }
    }

    val tmp = System.getProperty("java.io.tmpdir")

    // IVF: persisted cell-partitioned layout
    val ivfDir = s"$tmp/sf_ivf_idx"
    val ivf = Similarity.buildIvfIndexExact(emb, nlist = 16, iters = 2)
    Sink.writeIvfIndex(ivf, ivfDir)
    ivf.unpersist()
    val loadedIvf = Sink.readIvfIndex(spark, ivfDir)
    drive("ivf")(qs => emit =>
      StreamAnnServe.servedWriter(qs, loadedIvf, k = 10, nprobe = 4)(emit))

    // IVF-PQ: persisted celled+codes layout, code-only ADC probes
    val pqDir = s"$tmp/sf_pq_idx"
    val ivf2 = Similarity.buildIvfIndexExact(emb, nlist = 16, iters = 2)
    val model = Similarity.buildPqModel(emb, m = 8, k = 64, iters = 2)
    Sink.writeIvfPqIndex(ivf2, model.cents, model.codes, pqDir)
    ivf2.unpersist(); model.unpersist()
    val (loadedPq, cents) = Sink.readIvfPqIndex(spark, pqDir)
    drive("pq")(qs => emit =>
      StreamAnnServe.servedPqWriter(qs, loadedPq, cents,
        k = 10, nprobe = 4, rerank = 64)(emit))

    // LSH: persisted signed + postings layout, bucket-pruned probes
    val lshDir = s"$tmp/sf_lsh_idx"
    val lsh = Similarity.buildLshIndex(emb, nBits = 64, bands = 16)
    Sink.writeLshIndex(lsh, lshDir)
    lsh.unpersist()
    val loadedLsh = Sink.readLshIndex(spark, lshDir)
    drive("lsh")(qs => emit =>
      StreamAnnServe.servedLshWriter(qs, loadedLsh, k = 10)(emit))

    // text: persisted bucket-partitioned inverted index, BM25 over the
    // probed bucket directories — per-batch work must track the batch's
    // matched postings (Σ df of its terms), never corpus size or batch
    // count; the request stream is (query_id, terms) instead of vectors
    val textDir = s"$tmp/sf_text_idx"
    Sink.writeTextIndex(
      Tables.documents(spark, sfDir), textDir, buckets = 64)
    val textIdx = Sink.readTextIndex(spark, textDir)
    val termPool = Seq(
      Seq("vector", "hash"), Seq("merge", "stream"), Seq("table"),
      Seq("scan", "filter", "join"), Seq("sort", "group"),
      Seq("query", "batch"), Seq("key", "value"), Seq("window"),
      Seq("fast", "slow"), Seq("customer", "order"))
    def writeTermFile(dir: Path, name: String, batch: Int): Unit = {
      val lines = (0 until 20).map { i =>
        val terms = termPool((batch * 20 + i) % termPool.length)
        s"""{"query_id":${1000000L + batch * 1000L + i},""" +
          s""""terms":[${terms.map("\"" + _ + "\"").mkString(",")}]}"""
      }
      val tmpF = dir.resolve(s".$name.tmp")
      Files.write(tmpF, String.join("\n", lines: _*).getBytes("UTF-8"))
      Files.move(tmpF, dir.resolve(name))
    }
    /** [[drive]] for non-vector request shapes (terms, hybrid): the
      * same timing/footprint loop over a caller-shaped request schema
      * and per-batch file writer.
      */
    def driveCustom(flavor: String, schema: StructType)(
        writeBatch: (Path, Int) => Unit)(
        mkWriter: DataFrame => ((Long, DataFrame) => Unit) =>
          org.apache.spark.sql.streaming.DataStreamWriter[
            org.apache.spark.sql.Row]): Unit = {
      val input = Files.createTempDirectory(s"sf_${flavor}_in")
      val checkpoint = Files.createTempDirectory(s"sf_${flavor}_ckpt")
      var servedRows = 0L
      val q = mkWriter(
        spark.readStream.schema(schema).json(input.toString)) {
        (_, res) => servedRows += res.count()
      }
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try {
        val times = (0 until nBatches).map { b =>
          writeBatch(input, b)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val ckpt = dirBytes(checkpoint.toFile)
          val state = dirBytes(checkpoint.resolve("state").toFile)
          println(f"$flavor%-7s batch=$b%2d  $sec%6.2f s  " +
            f"ckpt=$ckpt%7d B  state=$state%d B")
          sec
        }
        val firstHalf = times.take(nBatches / 2).sum / (nBatches / 2)
        val secondHalf = times.drop(nBatches / 2).sum /
          (nBatches - nBatches / 2)
        println(f"$flavor%-7s summary: served=$servedRows rows  " +
          f"mean(first half)=$firstHalf%5.2f s  " +
          f"mean(second half)=$secondHalf%5.2f s  " +
          f"ckpt final=${dirBytes(checkpoint.toFile)}%d B")
      } finally {
        q.stop()
        org.apache.commons.io.FileUtils.deleteDirectory(input.toFile)
        org.apache.commons.io.FileUtils.deleteDirectory(checkpoint.toFile)
      }
    }

    val termSchema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType))))
    driveCustom("text", termSchema)(
      (dir, b) => writeTermFile(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.bm25Writer(qs, textIdx, k = 10)(
          emit))

    // snippet: the fourth text serving twin — per-batch work is the
    // min-window recurrence over the probed postings plus ONE
    // winner-id push-down read of the documents table
    val docsTable = Tables.documents(spark, sfDir)
    driveCustom("snippet", termSchema)(
      (dir, b) => writeTermFile(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.snippetWriter(
          qs, textIdx, docsTable, k = 10)(emit))

    // hybrid: both legs per micro-batch — the bucket-pruned BM25 probe
    // + the cell-pruned integer-lattice ANN probe + the request-sized
    // fuse; latency must track the SUM of the two serving flavors
    val hybridSchema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType)),
      StructField("embedding", ArrayType(FloatType))))
    def writeHybridFile(dir: Path, name: String, batch: Int): Unit = {
      val lines = (0 until 20).map { i =>
        val terms = termPool((batch * 20 + i) % termPool.length)
        val (_, e) = reqPool((batch * 20 + i) % reqPool.length)
        s"""{"query_id":${1000000L + batch * 1000L + i},""" +
          s""""terms":[${terms.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""embedding":[${e.mkString(",")}]}"""
      }
      val tmpF = dir.resolve(s".$name.tmp")
      Files.write(tmpF, String.join("\n", lines: _*).getBytes("UTF-8"))
      Files.move(tmpF, dir.resolve(name))
    }
    driveCustom("hybrid", hybridSchema)(
      (dir, b) => writeHybridFile(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.hybridWriter(
          qs, textIdx, loadedIvf, k = 10, legK = 20, nprobe = 4)(emit))

    // hybrid4: the 4-leg request shape (terms + phrase + prox_terms +
    // embedding) — the boost legs ride the SAME bucket-pruned probe
    // family as BM25, so per-batch latency must track the text legs'
    // matched postings plus the ANN leg, never corpus size, and the
    // no-state/flat-checkpoint contract is identical
    val hybrid4Schema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType)),
      StructField("phrase", ArrayType(StringType)),
      StructField("prox_terms", ArrayType(StringType)),
      StructField("embedding", ArrayType(FloatType))))
    def writeHybrid4File(dir: Path, name: String, batch: Int): Unit = {
      def arr(ts: Seq[String]) =
        s"[${ts.map("\"" + _ + "\"").mkString(",")}]"
      val lines = (0 until 20).map { i =>
        val terms = termPool((batch * 20 + i) % termPool.length)
        val phrase = termPool((batch * 20 + i + 1) % termPool.length)
        val prox = termPool((batch * 20 + i + 2) % termPool.length)
        val (_, e) = reqPool((batch * 20 + i) % reqPool.length)
        s"""{"query_id":${1000000L + batch * 1000L + i},""" +
          s""""terms":${arr(terms)},"phrase":${arr(phrase)},""" +
          s""""prox_terms":${arr(prox)},"embedding":[${e.mkString(",")}]}"""
      }
      val tmpF = dir.resolve(s".$name.tmp")
      Files.write(tmpF, String.join("\n", lines: _*).getBytes("UTF-8"))
      Files.move(tmpF, dir.resolve(name))
    }
    driveCustom("hybrid4", hybrid4Schema)(
      (dir, b) => writeHybrid4File(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.hybridWriter(
          qs, textIdx, loadedIvf, k = 10, legK = 20, nprobe = 4)(emit))

    // page: the results-page call (fusion + snippet evidence with
    // PHRASE preference) — per-batch cost over `hybrid` must be the
    // winner-pruned window passes (terms min-window + phrase anchors)
    // plus ONE winners-pushdown documents read, all request-sized; the
    // no-state/flat-checkpoint contract is unchanged
    val pageSchema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("terms", ArrayType(StringType)),
      StructField("phrase", ArrayType(StringType)),
      StructField("embedding", ArrayType(FloatType))))
    def writePageFile(dir: Path, name: String, batch: Int): Unit = {
      def arr(ts: Seq[String]) =
        s"[${ts.map("\"" + _ + "\"").mkString(",")}]"
      val lines = (0 until 20).map { i =>
        val terms = termPool((batch * 20 + i) % termPool.length)
        val phrase = termPool((batch * 20 + i + 1) % termPool.length)
        val (_, e) = reqPool((batch * 20 + i) % reqPool.length)
        s"""{"query_id":${1000000L + batch * 1000L + i},""" +
          s""""terms":${arr(terms)},"phrase":${arr(phrase)},""" +
          s""""embedding":[${e.mkString(",")}]}"""
      }
      val tmpF = dir.resolve(s".$name.tmp")
      Files.write(tmpF, String.join("\n", lines: _*).getBytes("UTF-8"))
      Files.move(tmpF, dir.resolve(name))
    }
    driveCustom("page", pageSchema)(
      (dir, b) => writePageFile(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.hybridSnippetWriter(
          qs, textIdx, loadedIvf, docsTable,
          k = 10, legK = 20, nprobe = 4)(emit))

    // page4 (r16): the MAXIMAL serving call — 4-leg fusion (hybrid4's
    // request shape) AND phrase-preferential evidence in one batch, the
    // composition retrieval_hybrid_page4 hash-pins. Cost contract:
    // ≈ hybrid4 (the four leg probes) + the page flavor's delta (the
    // winner-pruned window passes + one winners-pushdown documents
    // read); flat across sustained batches, zero state
    driveCustom("page4", hybrid4Schema)(
      (dir, b) => writeHybrid4File(dir, f"batch$b%03d.json", b))(
      qs => emit =>
        graft.streaming.StreamTextServe.hybridSnippetWriter(
          qs, textIdx, loadedIvf, docsTable,
          k = 10, legK = 20, nprobe = 4)(emit))

    Seq(ivfDir, pqDir, lshDir, textDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    spark.stop()
  }
}
