package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Similarity}
import graft.sinks.Sink

/** Layer-hygiene guards on the persisted index lifecycles — each one a
  * silent-wrong-answer (or availability) hazard at a lifecycle seam:
  *   - an overwrite build must clear a STALE integer quantizer (a
  *     float-trained index over a path that held an exact-Lloyd layout
  *     would otherwise pair new cells with the old lattice and probe
  *     the wrong cells — the intProbe REFUSES instead);
  *   - a drift rebuild retrains the lattice on the stored UNIT vectors
  *     and must record that space, so the probe quantizes queries in
  *     the training space (raw-vs-unit mismatch silently degrades
  *     probe-cell selection);
  *   - the A/B bench parser must round-trip exponent-form numbers (a
  *     dropped query would silently skew ab_ratio), and a bench run
  *     embeds only an A/B verdict measured at its own revision.
  */
class IndexLayerHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  test("overwrite with a float-trained index CLEARS the stale integer " +
      "quantizer — the probe refuses instead of probing wrong cells") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("hyg_qc").toString
    val exact = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
    try {
      Sink.writeIvfIndex(exact, dir)
      assert(Sink.readIvfIndex(spark, dir).hasQuantizedCentroids)
      // a float-trained build (different nlist) overwrites the path
      val fl = Similarity.buildIvfIndex(emb, nlist = 8)
      try {
        Sink.writeIvfIndex(fl, dir)
        val loaded = Sink.readIvfIndex(spark, dir)
        assert(!loaded.hasQuantizedCentroids,
          "the old 4-cell lattice must not survive an 8-cell float build")
        val e = intercept[IllegalArgumentException] {
          Similarity.ivfQueryVectorsIntProbe(loaded,
            emb.limit(1).select(col("vec_id").as("query_id"),
              col("embedding")), k = 3)
        }
        assert(e.getMessage.contains("exact-Lloyd"))
      } finally fl.unpersist()
    } finally {
      exact.unpersist()
      rm(dir)
    }
  }

  test("drift rebuild records the UNIT training space; the probe " +
      "quantizes queries in it (partition-filter replay)") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 1000)
    val dir = Files.createTempDirectory("hyg_space").toString
    val idx = Similarity.buildIvfIndexExact(emb, nlist = 8, iters = 2)
    try {
      Sink.writeIvfIndex(idx, dir)
      assert(Sink.readIvfIndex(spark, dir).qcentsSpace === "raw")
      // skewed ingest past the drift valve forces the retrain
      val skew = emb.filter(col("vec_id") === 0L)
        .select(col("embedding"))
        .crossJoin(spark.range(600000L, 600500L).toDF("vec_id"))
        .select(col("vec_id"), col("embedding"))
      Sink.appendIvfIndex(spark, dir, skew, batchId = 0L)
      val (rebuilt, _) =
        Sink.rebuildIvfIndex(spark, dir, nlist = 8, thresholdPpm = 500000L)
      assert(rebuilt)
      val loaded = Sink.readIvfIndex(spark, dir)
      assert(loaded.qcentsSpace === "unit",
        "the rebuilt lattice trained on stored unit vectors")

      // the probe must quantize the query in UNIT space: replay the
      // cell selection driver-side with normalization first and assert
      // the plan's static partition filter matches it exactly
      val nprobe = 3
      val queries = emb.filter(col("vec_id") < 2)
        .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))
      val res = Similarity.ivfQueryVectorsIntProbe(
        loaded, queries, k = 5, nprobe = nprobe)
      res.collect()
      val qvecs = emb.filter(col("vec_id") < 2)
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0))
      def unitThenLatt(e: Seq[Double]): Seq[Long] = {
        val norm = math.sqrt(e.foldLeft(0.0)((a, x) => a + x * x))
        e.map(x => math.round((x / norm + Clustering.Shift) *
          Clustering.Scale))
      }
      val wantCells = qvecs.flatMap { e =>
        val q = unitThenLatt(e)
        loaded.qcents.zipWithIndex.map { case (c, j) =>
          (c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.sorted.take(nprobe).map(_._2)
      }.toSet
      val planStr = res.queryExecution.executedPlan.toString
      val inList = "PartitionFilters: \\[cell#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(planStr)
      assert(inList.isDefined, s"expected a static cell filter:\n$planStr")
      assert(inList.get.group(1).split(",").map(_.trim.toInt).toSet
        === wantCells,
        "probe cells must replay from UNIT-space quantization")
    } finally {
      idx.unpersist()
      rm(dir)
    }
  }

  test("A/B bench parse: exponent-form medians/mins round-trip instead " +
      "of silently dropping the query") {
    // q_new is written by Bench itself, in the shape with counters: an
    // old file and a new one must both parse to the same mins
    def counters(jobs: Long) =
      graft.metrics.Counters(jobs, 5, 24, 310, 4096, 4096, 0, 0, 0)
    val newEntry = Bench.entryJson("q_new", Seq(
      (2.5, None, counters(7)), (2.0, Some("E: boom"), counters(9)),
      (3.0, None, counters(7))))
    assert(newEntry === "\"q_new\": {\"median\":2.5000,\"min\":2.0000," +
      "\"runs\":[2.5000,2.0000,3.0000],\"err\":\"E: boom\",\"jobs\":7," +
      "\"stages\":5,\"tasks\":24,\"cpu_ms\":310," +
      "\"shuffle_read_bytes\":4096,\"shuffle_write_bytes\":4096," +
      "\"spill_bytes\":0,\"compiles\":0,\"compile_ms\":0}")
    val text =
      s"""{"queries": {
        |"q_fast": {"median":1.0E-4,"min":9.5E-5,"runs":[1.0E-4]},
        |"q_slow": {"median":12.25,"min":11.5,"runs":[12.25]},
        |$newEntry
        |}}""".stripMargin
    val mins = Bench.parseBenchFullMins(text)
    assert(mins === Map("q_fast" -> 9.5e-5, "q_slow" -> 11.5,
      "q_new" -> 2.0))
  }

  test("A/B verdict: a bench run embeds it only when it was measured at " +
      "the revision being benched") {
    val ab = "{\n  \"ab_ratio\": 0.9028,\n  \"ab_against\": \"6bd7e4a\",\n" +
      "  \"ab_head\": \"515215b\",\n  \"ab_reps\": 2\n}\n"
    val embedded = ",\"ab_ratio\":0.9028,\"ab_against\":\"6bd7e4a\"," +
      "\"ab_measured_at\":\"515215b\""
    assert(Bench.abFields(ab, "515215b") === embedded)
    assert(Bench.abFields(ab, "515215b9") === embedded,
      "git may print a longer short revision of the same commit")
    assert(Bench.abFields(ab, "f2e5fda") === "",
      "a verdict measured at another revision is stale")
    assert(Bench.abFields(ab, "") === "", "no revision: nothing to match")
  }
}
