package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.Sink

/** Tombstone-pressure maintenance valves for the VECTOR index families
  * ([[Sink.compactIvfIndexIfNeeded]] / [[Sink.compactLshIndexIfNeeded]])
  * — closing the r14 gap where only the text index self-maintained
  * under delete pressure: a daily retention sweep grows the broadcast
  * mask on every vector serve forever unless something folds it
  * unattended. Pins, per family:
  *   - below every threshold the valve is a CENSUS read (returns false,
  *     tombstone layouts untouched, probe answers unchanged);
  *   - masked-id MASS trips the fold; tombstone-BATCH count trips it
  *     independently (each committed batch is a per-probe broadcast
  *     anti-join until folded);
  *   - the fold is bit-identical on every probe path (incl. the coded
  *     ADC path of an IVF-PQ layout through the shared IVF valve) and
  *     drops the tombstone layouts, so the post-fold valve reads zero
  *     pressure;
  * plus the drift-gate companion: [[Sink.rebuildIvfIndex]]'s occupancy
  * gate now reads |growth_ppm|, so a cell that LOST half its rows to
  * deletes trips the retrain exactly like one that doubled.
  */
class VectorTombstoneValveSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  private def ivfServed(dir: String): Seq[(Long, Long, Int)] =
    Similarity.ivfQueryVectorsIntProbe(Sink.readIvfIndex(spark, dir),
        Tables.embeddings(spark, sf).filter(col("vec_id") === 1)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 20, nprobe = 4)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq

  test("IVF valve: census no-op below thresholds; masked-id mass trips " +
      "the fold; probe bit-identical; post-fold pressure reads zero") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("valve_ivf")
    try {
      val built = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
      Sink.writeIvfIndex(built, dir)
      built.unpersist()
      Sink.deleteFromIvfIndex(spark, dir,
        emb.filter(col("vec_id") % 11 === 3).select(col("vec_id")),
        batchId = 0L)
      val before = ivfServed(dir)

      // below thresholds: a census read only — tombstones stay live
      val (c0, f0, b0, m0) = Sink.compactIvfIndexIfNeeded(spark, dir)
      assert(!c0 && f0 === 0L && b0 === 1L && m0 > 0L)
      assert(new java.io.File(s"$dir/tombstones").exists(),
        "no-op valve must not touch the layouts")
      assert(ivfServed(dir) === before)

      // masked mass over threshold: the valve folds physically
      val (c1, _, _, m1) =
        Sink.compactIvfIndexIfNeeded(spark, dir, maxMaskedIds = 1L)
      assert(c1 && m1 === m0)
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "fold drops the tombstone layouts")
      assert(ivfServed(dir) === before, "bit parity across the valve fold")

      // post-fold: zero pressure → census no-op even at the tight bound
      val (c2, _, b2, m2) =
        Sink.compactIvfIndexIfNeeded(spark, dir, maxMaskedIds = 1L)
      assert(!c2 && b2 === 0L && m2 === 0L)
    } finally rm(dir)
  }

  test("IVF valve: tombstone-BATCH count trips the fold independently " +
      "of mass; an IVF-PQ layout folds through the same valve with ADC " +
      "parity") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val dir = tmp("valve_pq")
    try {
      val built = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 2)
      val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
      Sink.writeIvfPqIndex(built, model.cents, model.codes, dir)
      built.unpersist()
      model.unpersist()
      // three 2-id delete batches: mass tiny, batch count = 3
      (0 to 2).foreach(b => Sink.deleteFromIvfIndex(spark, dir,
        Seq(2L * b, 2L * b + 1).toDF("vec_id"), batchId = b.toLong))
      def adc(): Seq[(Long, Long)] = {
        val (loaded, cents) = Sink.readIvfPqIndex(spark, dir)
        Similarity.ivfPqQueryVectors(loaded, cents,
            emb.filter(col("vec_id") === 9)
              .select(col("vec_id").as("query_id"), col("embedding")),
            nprobe = 4, rerank = 1000000, k = 10)
          .select(col("vec_id"), col("rank").cast("long"))
          .as[(Long, Long)].collect().toSeq
      }
      val before = adc()
      val (c0, _, b0, _) = Sink.compactIvfIndexIfNeeded(spark, dir,
        maxBatches = 16L, maxMaskedIds = 1000L)
      assert(!c0 && b0 === 3L, "3 batches under maxBatches=16: no-op")
      val (c1, _, b1, _) = Sink.compactIvfIndexIfNeeded(spark, dir,
        maxBatches = 2L, maxMaskedIds = 1000L)
      assert(c1 && b1 === 3L, "batch count alone trips the valve")
      assert(!new java.io.File(s"$dir/tombstones").exists())
      assert(adc() === before, "ADC parity across the coded-layout fold")
      // deleted ids physically absent from the folded celled table
      val survivors = spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/celled")
        .select(col("vec_id")).as[Long].collect().toSet
      assert(survivors.intersect(Set(0L, 1L, 2L, 3L, 4L, 5L)).isEmpty)
    } finally rm(dir)
  }

  test("LSH valve: census no-op below thresholds; pressure trips the " +
      "fold; both layout sides stay bit-identical; post-fold zero") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("valve_lsh")
    try {
      val built = Similarity.buildLshIndex(emb, nBits = 32, bands = 8)
      Sink.writeLshIndex(built, dir)
      built.unpersist()
      Sink.deleteFromLshIndex(spark, dir,
        emb.filter(col("vec_id") % 13 === 5).select(col("vec_id")),
        batchId = 0L)
      def served(): Seq[(Long, Long)] =
        Similarity.lshQueryVectors(Sink.readLshIndex(spark, dir),
            emb.filter(col("vec_id") === 0)
              .select(col("vec_id").as("query_id"), col("embedding")),
            k = 20)
          .select(col("vec_id"), col("rank").cast("long"))
          .as[(Long, Long)].collect().toSeq
      val before = served()
      val (c0, _, b0, m0) = Sink.compactLshIndexIfNeeded(spark, dir)
      assert(!c0 && b0 === 1L && m0 > 0L)
      assert(new java.io.File(s"$dir/tombstones").exists())
      assert(served() === before)
      val (c1, _, _, _) =
        Sink.compactLshIndexIfNeeded(spark, dir, maxMaskedIds = 1L)
      assert(c1)
      assert(!new java.io.File(s"$dir/tombstones").exists())
      assert(served() === before, "bit parity across the LSH valve fold")
      val (c2, _, b2, m2) =
        Sink.compactLshIndexIfNeeded(spark, dir, maxMaskedIds = 1L)
      assert(!c2 && b2 === 0L && m2 === 0L)
    } finally rm(dir)
  }

  test("coded root × valve fold, TIGHT rerank (r16): delete → re-add → " +
      "valve fold keeps ivfPqQueryVectors bit-equal on a shortlist the " +
      "ADC table actually decides (rerank = corpus would mask a code " +
      "corruption behind the exact-rerank pass)") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    val dir = tmp("valve_pq_tight")
    try {
      val built = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 2)
      val model = Similarity.buildPqModel(emb, m = 8, k = 16, iters = 1)
      Sink.writeIvfPqIndex(built, model.cents, model.codes, dir)
      built.unpersist()
      model.unpersist()
      Sink.deleteFromIvfIndex(spark, dir,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
        batchId = 0L)
      // half the deleted ids come back — their codes are RE-ENCODED
      // against the persisted codebooks and ride the ingested layer
      Sink.appendIvfIndex(spark, dir,
        emb.filter(col("vec_id") % 14 === 3), batchId = 1L)
      def adcTight(): Seq[(Long, Long)] = {
        val (loaded, cents) = Sink.readIvfPqIndex(spark, dir)
        Similarity.ivfPqQueryVectors(loaded, cents,
            emb.filter(col("vec_id") === 9)
              .select(col("vec_id").as("query_id"), col("embedding")),
            nprobe = 4, rerank = 30, k = 10)
          .select(col("vec_id"), col("rank").cast("long"))
          .as[(Long, Long)].collect().toSeq
      }
      val before = adcTight()
      val (c1, _, b1, _) = Sink.compactIvfIndexIfNeeded(spark, dir,
        maxBatches = 1L, maxMaskedIds = 1000000L)
      assert(c1 && b1 === 2L, "ingest + tombstone batches trip the fold")
      assert(!new java.io.File(s"$dir/tombstones").exists() &&
        !new java.io.File(s"$dir/ingested").exists(),
        "fold absorbs BOTH incremental layers")
      assert(adcTight() === before,
        "tight-shortlist ADC bit-parity across the coded valve fold — " +
          "base codes and re-encoded ingested codes both survived")
      // the re-added ids serve; the never-re-added deleted ids do not
      val served = spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/celled")
        .select(col("vec_id")).as[Long].collect().toSet
      val readded = emb.filter(col("vec_id") % 14 === 3)
        .select(col("vec_id")).as[Long].collect().toSet
      val goneForever = emb.filter(col("vec_id") % 14 === 10)
        .select(col("vec_id")).as[Long].collect().toSet
      assert(readded.subsetOf(served) && served.intersect(goneForever)
        .isEmpty)
    } finally rm(dir)
  }

  test("persisted ValvePolicy (r16): a no-arg valve honors the policy " +
      "declared at build time; an explicit argument overrides it; the " +
      "policy survives the fold") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("valve_policy")
    try {
      val built = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
      // declared at build: fold as soon as ANY id is masked
      Sink.writeIvfIndex(built, dir, policy = Some(Sink.ValvePolicy(
        maxIngestedFiles = Long.MaxValue, maxBatches = Long.MaxValue,
        maxMaskedIds = 0L)))
      built.unpersist()
      assert(Sink.readValvePolicy(spark, dir).contains(Sink.ValvePolicy(
        Long.MaxValue, Long.MaxValue, 0L)), "round-trip")
      Sink.deleteFromIvfIndex(spark, dir,
        emb.filter(col("vec_id") === 3).select(col("vec_id")),
        batchId = 0L)
      val before = ivfServed(dir)
      val (c1, _, _, m1) = Sink.compactIvfIndexIfNeeded(spark, dir)
      assert(c1 && m1 === 1L,
        "the NO-ARG valve read maxMaskedIds = 0 from the index itself")
      assert(ivfServed(dir) === before)
      // the fold's log entry carries the policy forward
      assert(Sink.readValvePolicy(spark, dir).isDefined)
      // explicit argument overrides the persisted tier
      Sink.deleteFromIvfIndex(spark, dir,
        emb.filter(col("vec_id") === 5).select(col("vec_id")),
        batchId = 1L)
      val (c2, _, _, _) = Sink.compactIvfIndexIfNeeded(spark, dir,
        maxMaskedIds = 1000000L)
      assert(!c2, "an explicit arg wins over the persisted policy")
      assert(new java.io.File(
        s"${Sink.resolveIndexRoot(spark, dir)}/tombstones").exists())
    } finally rm(dir)
  }

  test("IDLE valve is ZERO Spark jobs (r16): below every threshold the " +
      "census is FileSystem listings only, for all three valve families " +
      "— the marker-file pressure census replaced the two per-call " +
      "meta collects") {
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val ivf = tmp("valve_idle_ivf")
    val lsh = tmp("valve_idle_lsh")
    val text = tmp("valve_idle_text")
    try {
      val ivfIdx = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
      Sink.writeIvfIndex(ivfIdx, ivf)
      ivfIdx.unpersist()
      val lshIdx = Similarity.buildLshIndex(emb, nBits = 32, bands = 8)
      Sink.writeLshIndex(lshIdx, lsh)
      lshIdx.unpersist()
      Sink.writeTextIndex(docs, text, buckets = 8)
      // live tombstone pressure on every root (the markers must carry
      // the census; a tombstone-free root would pass vacuously)
      Sink.deleteFromIvfIndex(spark, ivf,
        emb.filter(col("vec_id") === 3).select(col("vec_id")), 0L)
      Sink.deleteFromLshIndex(spark, lsh,
        emb.filter(col("vec_id") === 3).select(col("vec_id")), 0L)
      Sink.deleteFromTextIndex(spark, text,
        docs.filter(col("doc_id") === 3).select(col("doc_id")), 0L)
      val sc = spark.sparkContext
      sc.setJobGroup("idle-valves", "below-threshold census")
      try {
        val (ci, _, _, mi) = Sink.compactIvfIndexIfNeeded(spark, ivf)
        val (cl, _, _, ml) = Sink.compactLshIndexIfNeeded(spark, lsh)
        val (ct, _, _) = Sink.compactTextIndexIfNeeded(spark, text)
        assert(!ci && !cl && !ct && mi === 1L && ml === 1L,
          "all three valves censused real pressure and stayed idle")
        // sentinel job in the SAME group: once it is visible in the
        // status store, any job the valves had launched (enqueued
        // earlier on the same listener bus) would be visible too.
        // RDD count = exactly ONE job (a Dataset count under AQE can
        // split into two and would fake a valve job)
        assert(sc.parallelize(Seq(1)).count() === 1L)
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def groupJobs(): Array[Int] =
        sc.statusTracker.getJobIdsForGroup("idle-valves")
      while (groupJobs().length < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(groupJobs().length === 1,
        s"expected ONLY the sentinel job in the idle-valve group, " +
          s"saw ${groupJobs().length} - an idle valve launched a job")
    } finally rm(ivf, lsh, text)
  }

  test("drift gate sees DELETIONS: a cell emptied by deletes trips the " +
      "|growth| rebuild gate; the rebuilt index serves without the mask") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("valve_drift")
    try {
      val built = Similarity.buildIvfIndexExact(emb, nlist = 4, iters = 1)
      Sink.writeIvfIndex(built, dir)
      built.unpersist()
      // delete EVERY vector of one cell: growth_ppm = -1e6 there — the
      // signed gate never saw this (deletes don't grow cells)
      val cell0 = spark.read
        .parquet(s"${Sink.resolveIndexRoot(spark, dir)}/celled")
        .filter(col("cell") === 0).select(col("vec_id"))
      Sink.deleteFromIvfIndex(spark, dir, cell0, batchId = 0L)
      val drift = Sink.ivfOccupancyDrift(spark, dir)
        .filter(col("cell") === 0).head.getLong(3)
      assert(drift === -1000000L, "emptied cell reads -1e6 ppm")
      val before = ivfServed(dir)
      val (rebuilt, maxAbs) =
        Sink.rebuildIvfIndex(spark, dir, nlist = 4, thresholdPpm = 500000L)
      assert(rebuilt && maxAbs >= 1000000L,
        "|growth| gate trips on pure delete pressure")
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "rebuild folds the tombstones physically")
      assert(ivfServed(dir) === before,
        "exhaustive-visibility parity: rebuild relocates rows, " +
          "never changes the served set")
    } finally rm(dir)
  }

  test("r17: valve-policy hygiene — negative fields reject at write AND " +
      "at read (a hand-edited -1 must not silently fold on every call); " +
      "non-sentinel negative threshold args reject; a policy rewrite is " +
      "rename-over (no tmp residue, new value serves)") {
    val dir = tmp("valve_policy_hyg")
    try {
      val eW = intercept[IllegalArgumentException] {
        Sink.writeValvePolicy(spark, dir,
          Sink.ValvePolicy(64L, -1L, 100000L))
      }
      assert(eW.getMessage.contains(">= 0"))
      assert(!new java.io.File(s"$dir/_log").exists(),
        "a rejected policy writes nothing")
      Sink.writeValvePolicy(spark, dir, Sink.ValvePolicy(1L, 2L, 3L))
      assert(Sink.readValvePolicy(spark, dir)
        .contains(Sink.ValvePolicy(1L, 2L, 3L)))
      // a later declaration appends a new log entry: the rename into
      // place leaves no tmp file and the new value serves
      Sink.writeValvePolicy(spark, dir, Sink.ValvePolicy(4L, 5L, 6L))
      assert(Sink.readValvePolicy(spark, dir)
        .contains(Sink.ValvePolicy(4L, 5L, 6L)))
      assert(new java.io.File(s"$dir/_log").list()
        .forall(n => !n.endsWith(".tmp") && !n.endsWith(".tmp.crc")),
        "the rename consumed the tmp file")
      // a hand-written negative value rejects LOUDLY on read
      val pw = new java.io.PrintWriter(s"$dir/_log/${"0" * 19}9.json")
      pw.write("""{"op":"policy","max_ingested_files":64,""" +
        """"max_batches":-1,"max_masked_ids":100000}""")
      pw.close()
      val eR = intercept[IllegalArgumentException] {
        Sink.readValvePolicy(spark, dir)
      }
      assert(eR.getMessage.contains(">= 0"))
      // explicit args below the -1 sentinel are caller bugs, not
      // silent use-the-persisted-policy requests (valid policy back in
      // place first, so the arg check is what fires)
      assert(new java.io.File(s"$dir/_log/${"0" * 19}9.json").delete())
      Sink.writeValvePolicy(spark, dir, Sink.ValvePolicy(4L, 5L, 6L))
      val eA = intercept[IllegalArgumentException] {
        Sink.compactIvfIndexIfNeeded(spark, dir, maxMaskedIds = -2L)
      }
      assert(eA.getMessage.contains("sentinel"))
    } finally rm(dir)
  }
}
