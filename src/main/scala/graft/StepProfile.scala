package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger
import graft.sinks.Sink
import graft.operators.Similarity

/** Dev-only: step-level job attribution inside the worst lifecycle
  * queries. Not a driver contract file.
  */
object StepProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def step[T](name: String)(f: => T): T = {
      Thread.sleep(80)
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(80)
      println(f"STEP $name%-42s ${sec}%7.2f s  ${jobs.get - j0}%4d jobs")
      r
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    val which = if (args.nonEmpty) args(0) else "pq"

    if (which == "pq") {
      // ---- embedding_pq_drift_rebuild steps (run twice: warm then report)
      for (round <- 1 to 2) {
        println(s"== pq_drift_rebuild round $round")
        val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 500)
        val path = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_pqdrift_${new java.io.File(sfDir).getName}").toString
        val idx = step("buildIvfIndexExact")(
          Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2))
        val model = step("buildPqModel")(
          Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1))
        step("writeIvfPqIndex")(
          Sink.writeIvfPqIndex(idx, model.cents, model.codes, path))
        idx.unpersist(); model.unpersist()
        val skew = emb.filter(col("vec_id") === 0L)
          .select(col("embedding"))
          .crossJoin(spark.range(1000000L, 1000300L).toDF("vec_id"))
          .select(col("vec_id"), col("embedding"))
        step("appendIvfIndex")(
          Sink.appendIvfIndex(spark, path, skew, batchId = 0L))
        val queries = emb.filter(col("vec_id") < 3)
          .select((col("vec_id") + 2000000L).as("query_id"), col("embedding"))
        def exhaustive() = {
          val (loaded, cents) = Sink.readIvfPqIndex(spark, path)
          Similarity.ivfPqQueryVectors(loaded, cents, queries,
            nprobe = 8, rerank = 1000000, k = 10)
        }
        val before = step("before=exhaustive+checkpoint")(
          exhaustive().localCheckpoint(true))
        val corpus = emb.select(col("vec_id"), col("embedding"))
          .unionByName(skew)
        step("rebuildIvfPqIndex")(
          Sink.rebuildIvfPqIndex(spark, path, corpus,
            nlist = 8, m = 8, k = 16, thresholdPpm = 200000L,
            iters = 2, pqIters = 1))
        val after = step("after=exhaustive+checkpoint")(
          exhaustive().localCheckpoint(true))
        step("postMax drift agg")(
          Sink.ivfOccupancyDrift(spark, path)
            .agg(max(col("growth_ppm"))).head.getLong(0))
        step("nTotal celled.count")(
          Sink.readIvfIndex(spark, path).celled.count())
        step("matched join count")(
          before.join(after, Seq("query_id", "vec_id", "cosine", "rank"))
            .count())
        step("nBefore count")(before.count())
        step("after count")(after.count())
      }
    }

    if (which == "textinc") {
      for (round <- 1 to 2) {
        println(s"== text_bm25_incremental round $round")
        val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 1000)
        val path = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_textinc_${new java.io.File(sfDir).getName}").toString
        step("writeTextIndex")(
          Sink.writeTextIndex(docs.filter(col("doc_id") % 2 === 0), path,
            buckets = 16))
        step("appendTextIndex b0")(
          Sink.appendTextIndex(spark, path,
            docs.filter(col("doc_id") % 4 === 1), batchId = 0L))
        step("appendTextIndex b1")(
          Sink.appendTextIndex(spark, path,
            docs.filter(col("doc_id") % 4 === 3), batchId = 1L))
        step("appendTextIndex b1 replay")(
          Sink.appendTextIndex(spark, path,
            docs.filter(col("doc_id") % 4 === 3), batchId = 1L))
        val terms = Seq("vector", "hash", "merge")
        val inc = step("bm25TopK inc + checkpoint")(
          graft.operators.TextAnalysis
            .bm25TopK(Sink.readTextIndex(spark, path), terms, k = 20)
            .localCheckpoint(true))
        step("compactTextIndex")(Sink.compactTextIndex(spark, path))
        val post = graft.operators.TextAnalysis
          .bm25TopK(Sink.readTextIndex(spark, path), terms, k = 20)
        step("final join force")(
          inc.join(post.withColumn("post", lit(true)),
              Seq("doc_id", "score"), "left")
            .select(col("doc_id"), col("score"),
              coalesce(col("post"), lit(false))
                .as("stable_across_compaction"))
            .orderBy(col("score").desc, col("doc_id"))
            .queryExecution.toRdd.count())
      }
    }
    spark.stop()
  }
}
