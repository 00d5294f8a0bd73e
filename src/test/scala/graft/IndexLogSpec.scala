package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Census, Similarity}
import graft.sinks.{IndexLog, Sink}

/** "Uncommitted is invisible" and "a replayed batch is exactly-once"
  * against a crash between a data write and its commit-log entry. For
  * text, IVF and LSH indexes — append, delete and fold — and one census
  * merge, the spec runs the real operation, then puts the directory in
  * the state a crash before the entry leaves: the files the operation
  * wrote are there, its entry is not, and nothing it would have dropped
  * after the entry is gone. Readers, valves, the next fold and the
  * retention sweep must all see the prior state, and a replay must land
  * the batch once.
  *
  * Also pinned: a torn LSH or IVF append that a fold ran over is not
  * absorbed — a fold absorbs only batches with an entry, never what a
  * listing finds — so its replay lands and every vector of the batch
  * is served; and an index path without a commit log fails fast.
  */
class IndexLogSpec extends SparkSpec {
  import spark.implicits._

  private val never = Long.MaxValue

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  private def files(root: String): Set[Path] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(r.relativize).toSet
  }

  /** Run `op` on the index at `dir` and return what readers see right
    * after it; then leave `dir` as a crash between `op`'s data writes
    * and its log entry would: the pre-`op` tree plus every data file
    * `op` added. Directories in `restore` (a swept raw table) go back
    * to their pre-`op` content too.
    */
  private def crashBeforeEntry[T](dir: String, state: () => T,
      restore: String*)(op: => Any): T = {
    val aside = (dir +: restore).map(d => d -> s"${d}_aside")
    aside.foreach { case (d, a) =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(d), new java.io.File(a))
    }
    op
    val after = state()
    val added = (files(dir) -- files(s"${dir}_aside"))
      .filterNot(_.startsWith("_log"))
    added.foreach { f =>
      val to = Paths.get(s"${dir}_aside").resolve(f)
      Files.createDirectories(to.getParent)
      Files.copy(Paths.get(dir).resolve(f), to)
    }
    aside.foreach { case (d, a) =>
      rm(d)
      Files.move(Paths.get(a), Paths.get(d))
    }
    after
  }

  private def queries = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 3)
    .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))

  private def ranked(answers: DataFrame): Seq[(Long, Long, Int)] =
    answers.select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sorted

  /** One index family: what its readers see, its valve census (never
    * folding; the batch and masked-id counts, which come from the log —
    * the ingested-file count is a listing and sees torn files), and its
    * append, delete and fold.
    */
  private case class Family(
      dir: String,
      read: () => Any,
      valve: () => Any,
      append: Long => Unit,
      delete: Long => Unit,
      fold: () => Any)

  /** Append batch 5, delete batch 6 and fold, each crashed before its
    * entry, then checked and replayed.
    */
  private def crashBetweenDataAndLog(f: Family): Unit = {
    val (read0, valve0) = (f.read(), f.valve())

    // append: invisible, not absorbed by the next fold, replay lands once
    val appended = crashBeforeEntry(f.dir, f.read)(f.append(5L))
    assert(f.read() === read0, "an uncommitted append is invisible")
    assert(f.valve() === valve0, "valves do not count it")
    f.fold()
    assert(!IndexLog.read(spark, f.dir).absorbed.contains(5L),
      "the next fold does not absorb it")
    assert(f.read() === read0)
    f.append(5L)
    assert(f.read() === appended, "the replay lands the batch")
    f.append(5L)
    assert(f.read() === appended, "a second replay is a no-op")

    // delete: invisible until replayed, then applied once
    val (read1, valve1) = (f.read(), f.valve())
    val deleted = crashBeforeEntry(f.dir, f.read)(f.delete(6L))
    assert(deleted !== read1)
    assert(f.read() === read1, "an uncommitted delete masks nothing")
    assert(f.valve() === valve1)
    f.delete(6L)
    assert(f.read() === deleted)
    f.delete(6L)
    assert(f.read() === deleted)

    // fold: the prior root stays live and the next fold reuses its number
    val (read2, valve2) = (f.read(), f.valve())
    val gen = IndexLog.read(spark, f.dir).nextGen
    val folded = crashBeforeEntry(f.dir, f.read)(f.fold())
    assert(folded === read2, "a fold keeps what readers see")
    assert(new java.io.File(s"${f.dir}/gen-$gen").exists())
    assert(Sink.resolveIndexRoot(spark, f.dir) !== s"${f.dir}/gen-$gen",
      "an uncommitted generation does not resolve")
    assert(f.read() === read2)
    assert(f.valve() === valve2, "the pending batches still count")
    f.fold()
    assert(Sink.resolveIndexRoot(spark, f.dir) === s"${f.dir}/gen-$gen")
    assert(IndexLog.read(spark, f.dir).absorbed.contains(6L))
    assert(f.read() === read2)
  }

  private def textFamily(dir: String): Family = {
    val docs = Tables.documents(spark, sf)
    Sink.writeTextIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      buckets = 8)
    Sink.appendTextIndex(spark, dir,
      docs.filter(col("doc_id") % 4 === 1), batchId = 0L)
    Family(dir,
      () => {
        val t = Sink.readTextIndex(spark, dir)
        (t.nDocs, t.totalTokens, t.postings.count())
      },
      () => {
        val (c, _, batches) =
          Sink.compactTextIndexIfNeeded(spark, dir, never, never)
        (c, batches)
      },
      b => Sink.appendTextIndex(spark, dir,
        docs.filter(col("doc_id") % 4 === 3), b),
      b => Sink.deleteFromTextIndex(spark, dir,
        Seq(2L, 3L, 4L).toDF("doc_id"), b),
      () => Sink.compactTextIndex(spark, dir))
  }

  private def ivfFamily(dir: String): Family = {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.buildIvfIndexExact(
      emb.filter(col("vec_id") % 2 === 0), nlist = 4, iters = 1)
    Sink.writeIvfIndex(ivf, dir)
    ivf.unpersist()
    Family(dir,
      () => {
        val i = Sink.readIvfIndex(spark, dir)
        (i.celled.count(),
          ranked(Similarity.ivfQueryVectors(i, queries, k = 10, nprobe = 4)))
      },
      () => {
        val (c, _, batches, masked) =
          Sink.compactIvfIndexIfNeeded(spark, dir, never, never, never)
        (c, batches, masked)
      },
      b => Sink.appendIvfIndex(spark, dir,
        emb.filter(col("vec_id") % 2 === 1), b),
      b => Sink.deleteFromIvfIndex(spark, dir,
        Seq(0L, 1L, 2L).toDF("vec_id"), b),
      () => Sink.compactIvfIndex(spark, dir))
  }

  private def lshFamily(dir: String): Family = {
    val emb = Tables.embeddings(spark, sf)
    val lsh = Similarity.buildLshIndex(
      emb.filter(col("vec_id") % 2 === 0), nBits = 32, bands = 8)
    Sink.writeLshIndex(lsh, dir)
    lsh.unpersist()
    Family(dir,
      () => {
        val l = Sink.readLshIndex(spark, dir)
        (l.signed.count(), l.postings.count(),
          ranked(Similarity.lshQueryVectors(l, queries, k = 10)))
      },
      () => {
        val (c, _, batches, masked) =
          Sink.compactLshIndexIfNeeded(spark, dir, never, never, never)
        (c, batches, masked)
      },
      b => Sink.appendLshIndex(spark, dir,
        emb.filter(col("vec_id") % 2 === 1), b),
      b => Sink.deleteFromLshIndex(spark, dir,
        Seq(0L, 1L, 2L).toDF("vec_id"), b),
      () => Sink.compactLshIndex(spark, dir))
  }

  Seq[(String, String => Family)](
    "text" -> textFamily, "IVF" -> ivfFamily, "LSH" -> lshFamily
  ).foreach { case (name, family) =>
    test(s"$name: a crash between an append, delete or fold and its log " +
        "entry leaves the prior state to readers, valves and the next " +
        "fold; the replay lands the batch once") {
      val base = Files.createTempDirectory("crash_before_entry").toString
      try crashBetweenDataAndLog(family(s"$base/index"))
      finally rm(base)
    }
  }

  test("census: a merge whose log entry is lost stays invisible; its " +
      "replay applies once") {
    val table = Files.createTempDirectory("crash_census").toString
    def delta(lo: Long, hi: Long) = Census.distinctSketch(
      spark.range(lo, hi).select(col("id").as("user_id"),
        (col("id") % 3).as("grp")), "user_id", Seq("grp"))
    def state() = Sink.readCensusTable(spark, table).map { case (c, g) =>
      (g, Census.withEstimates(c).select(col("grp"), col("distinct_est"))
        .as[(Long, Long)].collect().toSeq.sorted)
    }
    try {
      assert(Sink.mergeCensusTable(spark, table, delta(0, 300), Seq("grp"), 1L))
      val before = state()
      val merged = crashBeforeEntry(table, () => state())(
        Sink.mergeCensusTable(spark, table, delta(200, 600), Seq("grp"), 2L))
      assert(merged.map(_._1) === Some(2L))
      assert(state() === before, "an uncommitted generation is invisible")
      assert(Sink.mergeCensusTable(spark, table, delta(200, 600),
        Seq("grp"), 2L), "the replay applies the delta")
      assert(state() === merged)
      assert(!Sink.mergeCensusTable(spark, table, delta(200, 600),
        Seq("grp"), 2L), "a second replay is skipped")
      assert(state() === merged)
    } finally rm(table)
  }

  test("retention sweep: a sweep whose tombstone entry is lost re-derives " +
      "the ids on replay and lands the batch once") {
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("crash_sweep").toString
    val (raw, text) = (s"$base/raw", s"$base/text")
    try {
      docs.withColumn("date",
          concat(lit("2024-01-0"), (col("doc_id") % 5 + 1).cast("string")))
        .write.partitionBy("date").parquet(raw)
      Sink.writeTextIndex(docs, text, buckets = 8)
      def read() = {
        val t = Sink.readTextIndex(spark, text)
        (t.nDocs, t.totalTokens, t.postings.count())
      }
      val (before, valve0) =
        (read(), Sink.compactTextIndexIfNeeded(spark, text, never, never))
      def sweep() = Sink.retentionSweep(spark, raw, "2024-01-03",
        batchId = 0L, textIndexes = Seq(text), maxBatches = never)
      val swept = crashBeforeEntry(text, () => read(), raw)(sweep())
      assert(swept !== before)
      assert(read() === before, "an uncommitted sweep masks nothing")
      assert(Sink.compactTextIndexIfNeeded(spark, text, never, never) ===
        valve0)
      assert(new java.io.File(s"$raw/date=2024-01-01").exists(),
        "the raw drop follows the tombstone entry")
      assert(sweep() === Seq("2024-01-01", "2024-01-02"))
      assert(read() === swept, "the replayed sweep lands the batch")
      sweep()
      assert(read() === swept, "a replay after the drop keeps it")
    } finally rm(base)
  }

  /** The state a crash between an append's data writes leaves: some of
    * batch `k`'s directories under `layout` missing, and no log entry
    * for the batch (an index without a commit log has none to lose).
    */
  private def tearAppend(dir: String, layout: String, k: Long,
      keep: Int): Unit = {
    val torn = Files.walk(Paths.get(dir, layout)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString == s"batch_id=$k")
      .toSeq.sortBy(_.toString).drop(keep)
    assert(torn.nonEmpty)
    torn.foreach(p => rm(p.toString))
    if (new java.io.File(s"$dir/_log").exists()) dropNewestLogEntry(dir)
  }

  test("LSH: a torn append (signed rows landed, postings not) that a fold " +
      "ran over is replayed and served") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("lsh_torn").toString
    try {
      val lsh = Similarity.buildLshIndex(
        emb.filter(col("vec_id") % 2 === 0), nBits = 32, bands = 8)
      Sink.writeLshIndex(lsh, dir)
      lsh.unpersist()
      val batch = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
      Sink.appendLshIndex(spark, dir, batch, batchId = 7L)
      tearAppend(dir, "postings_ingested", 7L, keep = 0)
      Sink.compactLshIndex(spark, dir)
      Sink.appendLshIndex(spark, dir, batch, batchId = 7L)
      val want = batch.select(col("vec_id")).as[Long].collect().toSet
      val probes = batch.select(col("vec_id").as("query_id"),
        col("embedding"))
      val hits = Similarity.lshQueryVectors(
          Sink.readLshIndex(spark, dir), probes, k = 5)
        .filter(col("query_id") === col("vec_id"))
        .select(col("vec_id")).as[Long].collect().toSet
      assert(hits === want, "every vector of the replayed batch is probed")
    } finally rm(dir)
  }

  test("IVF: a multi-partition append torn mid-commit that a fold ran " +
      "over is replayed and served") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("ivf_torn_append").toString
    try {
      val ivf = Similarity.buildIvfIndexExact(
        emb.filter(col("vec_id") % 2 === 0), nlist = 4, iters = 1)
      Sink.writeIvfIndex(ivf, dir)
      ivf.unpersist()
      val batch = emb.filter(col("vec_id") % 2 === 1)
      Sink.appendIvfIndex(spark, dir, batch, batchId = 7L)
      tearAppend(dir, "ingested", 7L, keep = 1)
      Sink.compactIvfIndex(spark, dir)
      Sink.appendIvfIndex(spark, dir, batch, batchId = 7L)
      assert(Sink.readIvfIndex(spark, dir).celled.count() === emb.count(),
        "every vector of the replayed batch is served")
    } finally rm(dir)
  }

  test("an index path without a commit log fails fast, naming the path") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val dir = Files.createTempDirectory("no_log").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 4)
      rm(s"$dir/_log")
      Seq[() => Any](
        () => Sink.readTextIndex(spark, dir),
        () => Sink.resolveIndexRoot(spark, dir),
        () => Sink.appendTextIndex(spark, dir, docs, 0L),
        () => Sink.compactTextIndexIfNeeded(spark, dir),
        () => Sink.readIvfIndex(spark, dir)
      ).foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(dir) && e.getMessage.contains("rebuild"))
      }
    } finally rm(dir)
  }
}
