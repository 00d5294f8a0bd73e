package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.{IndexLog, Sink, TinyParquet}

/** "Uncommitted is invisible" against the leftovers of a crashed write
  * attempt. A Spark write that dies mid-job leaves its part files under
  * `_temporary/0/_temporary/attempt_0/...` (the file output committer)
  * or `.spark-staging-<id>/...` (dynamic partition overwrite). Those
  * files are never committed, so every reader, valve census and
  * compaction must ignore them: N/T and row counts stay put, valve
  * counts stay put, no fold absorbs the crashed batch, and a later
  * real append of that batch lands. A crashed commit-log write leaves
  * a dot-temp entry under `_log/`, which no reader takes as an entry.
  *
  * The crashed batch id `K` is one no real write ever used. The planted
  * files are copies of real part files of the same layout, so a reader
  * that does descend into the hidden directories decodes them as rows.
  *
  * The same contract for a fold: a generation without its `fold` log
  * entry stays invisible and the next fold reuses its number, and a
  * fold that crashed after its entry but before its cleanup leaves
  * the layouts it absorbed on disk, where no reader, valve or later
  * fold may see them again.
  */
class StagedFileVisibilitySpec extends SparkSpec {
  import spark.implicits._

  private val K = 5L

  private def rm(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  private def partFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)

  /** Copy `source` into `layout` the way a crashed attempt of batch K
    * leaves it: under the committer's task-attempt directory, under a
    * dynamic-overwrite staging directory, and loose in the latter.
    */
  private def plantCrashedAttempt(layout: String, source: Path): Unit =
    Seq(s"_temporary/0/_temporary/attempt_0/batch_id=$K",
      s".spark-staging-$K/batch_id=$K", s".spark-staging-$K").foreach { sub =>
      val d = Paths.get(layout, sub)
      Files.createDirectories(d)
      Files.copy(source, d.resolve("part-00000-crashed.c000.snappy.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def absorbed(dir: String): Set[Long] =
    IndexLog.read(spark, dir).absorbed

  /** The dot-temp file a commit-log write that crashed before its
    * rename leaves, here for an `add` of batch K.
    */
  private def plantCrashedLogEntry(dir: String): Unit =
    Files.write(Paths.get(dir, "_log", ".99999999999999999999.json.tmp"),
      s"""{"op":"add","batch":$K,"n_docs":7,"total_tokens":70}"""
        .getBytes("UTF-8"))

  /** Build text, IVF and LSH indexes with appends and a delete under
    * `base`, plant a crashed attempt of batch K into every layout a
    * reader, valve or compaction lists, and check the contract.
    */
  private def crashedAttemptStaysInvisible(base: String): Unit = {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val (tdir, vdir, ldir) = (s"$base/text", s"$base/ivf", s"$base/lsh")

    Sink.writeTextIndex(docs.filter(col("doc_id") % 2 === 0), tdir,
      buckets = 8)
    Sink.appendTextIndex(spark, tdir,
      docs.filter(col("doc_id") % 4 === 1), batchId = 0L)
    Sink.appendTextIndex(spark, tdir,
      docs.filter(col("doc_id") % 4 === 3), batchId = 1L)
    Sink.deleteFromTextIndex(spark, tdir,
      Seq(2L, 4L).toDF("doc_id"), batchId = 2L)

    val ivf = Similarity.buildIvfIndexExact(
      emb.filter(col("vec_id") % 2 === 0), nlist = 4, iters = 1)
    Sink.writeIvfIndex(ivf, vdir)
    ivf.unpersist()
    Sink.appendIvfIndex(spark, vdir,
      emb.filter(col("vec_id") % 4 === 1), batchId = 0L)
    Sink.appendIvfIndex(spark, vdir,
      emb.filter(col("vec_id") % 4 === 3), batchId = 1L)
    Sink.deleteFromIvfIndex(spark, vdir,
      Seq(2L, 4L).toDF("vec_id"), batchId = 2L)

    val lsh = Similarity.buildLshIndex(
      emb.filter(col("vec_id") % 2 === 0), nBits = 32, bands = 8)
    Sink.writeLshIndex(lsh, ldir)
    lsh.unpersist()
    Sink.appendLshIndex(spark, ldir,
      emb.filter(col("vec_id") % 2 === 1), batchId = 0L)
    Sink.deleteFromLshIndex(spark, ldir,
      Seq(2L, 4L).toDF("vec_id"), batchId = 1L)

    def textNT(): (Long, Long) = {
      val t = Sink.readTextIndex(spark, tdir)
      (t.nDocs, t.totalTokens)
    }
    def ivfRows(): Long = Sink.readIvfIndex(spark, vdir).celled.count()
    def lshRows(): (Long, Long) = {
      val l = Sink.readLshIndex(spark, ldir)
      (l.signed.count(), l.postings.count())
    }
    val never = Long.MaxValue
    def valves() = (
      Sink.compactTextIndexIfNeeded(spark, tdir, never, never),
      Sink.compactIvfIndexIfNeeded(spark, vdir, never, never, never),
      Sink.compactLshIndexIfNeeded(spark, ldir, never, never, never))

    val (nt0, ivf0, lsh0, valves0) = (textNT(), ivfRows(), lshRows(), valves())

    Seq("postings_ingested", "doc_stats_ingested", "tombstones")
      .foreach(l => plantCrashedAttempt(s"$tdir/$l", partFiles(s"$tdir/$l").head))
    Seq("ingested", "tombstones")
      .foreach(l => plantCrashedAttempt(s"$vdir/$l", partFiles(s"$vdir/$l").head))
    Seq("signed_ingested", "postings_ingested", "tombstones")
      .foreach(l => plantCrashedAttempt(s"$ldir/$l", partFiles(s"$ldir/$l").head))
    Seq(tdir, vdir, ldir).foreach(plantCrashedLogEntry)

    assert(textNT() === nt0, "a crashed attempt must not count into N/T")
    assert(ivfRows() === ivf0)
    assert(lshRows() === lsh0)
    assert(valves() === valves0,
      "valve censuses must not count a crashed attempt's files or batch")

    // fold everything; the folds absorb exactly the committed batches
    assert(Sink.compactTextIndexIfNeeded(spark, tdir, maxIngestedFiles = 0L)._1)
    assert(Sink.compactIvfIndexIfNeeded(spark, vdir, maxIngestedFiles = 0L)._1)
    assert(Sink.compactLshIndexIfNeeded(spark, ldir, maxIngestedFiles = 0L)._1)
    assert(absorbed(tdir) === Set(0L, 1L, 2L))
    assert(absorbed(vdir) === Set(0L, 1L, 2L))
    assert(absorbed(ldir) === Set(0L, 1L))
    assert(textNT() === nt0, "compaction preserves the committed state")
    assert(ivfRows() === ivf0)
    assert(lshRows()._1 === lsh0._1)

    // the real batch K arrives later and must land
    val freshDocs = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    Sink.appendTextIndex(spark, tdir, freshDocs, batchId = K)
    assert(textNT()._1 === nt0._1 + 5, "batch K was never folded")
    val freshVecs = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    Sink.appendIvfIndex(spark, vdir, freshVecs, batchId = K)
    assert(ivfRows() === ivf0 + 5)
    Sink.appendLshIndex(spark, ldir, freshVecs, batchId = K)
    assert(lshRows()._1 === lsh0._1 + 5)
  }

  test("a crashed attempt's _temporary / .spark-staging files stay " +
      "invisible to readers, valves, compaction and the folded ledger") {
    // the folded ledger: the absorbed set of the newest `fold` entry
    val base = Files.createTempDirectory("staged_vis").toString
    try crashedAttemptStaysInvisible(base)
    finally rm(base)
  }

  test("same contract with the index roots inside a batch_id=9 directory") {
    val outer = Files.createTempDirectory("staged_vis_outer").toString
    try {
      val base = s"$outer/batch_id=9"
      Files.createDirectories(Paths.get(base))
      crashedAttemptStaysInvisible(base)
    } finally rm(outer)
  }

  /** One index family under the crash-after-commit checks: its flat
    * root `dir`, the base table a torn generation is planted from, the
    * compaction, everything a reader or valve observes, and whether the
    * re-added id 2 is served.
    */
  private case class Family(
      dir: String,
      baseTable: String,
      fold: () => (Long, Long),
      state: () => Any,
      readdServed: () => Boolean)

  /** The incremental layouts a fold absorbs, in any family. */
  private val incrementalLayouts = Seq("ingested", "signed_ingested",
    "postings_ingested", "doc_stats_ingested", "tombstones")

  private def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  /** Plant a torn `gen-1/` (data, no `fold` entry), then crash a fold
    * after its commit and before its cleanup: the pre-fold incremental
    * layouts reappear beside the new generation. Readers, valves and a
    * second fold must all see the clean post-fold state.
    */
  private def crashAfterCommitIsInvisible(f: Family): Unit = {
    val aside = s"${f.dir}_aside"
    val present = incrementalLayouts
      .filter(l => new java.io.File(s"${f.dir}/$l").exists())
    assert(present.nonEmpty)
    present.foreach(l => copyTree(s"${f.dir}/$l", s"$aside/$l"))

    val before = f.state()
    copyTree(s"${f.dir}/${f.baseTable}", s"${f.dir}/gen-1/${f.baseTable}")
    Files.createDirectories(Paths.get(f.dir, "gen-1", "stale"))
    assert(Sink.resolveIndexRoot(spark, f.dir) === f.dir,
      "a torn generation must not resolve")
    assert(f.state() === before, "a torn generation must stay invisible")

    val (n, _) = f.fold()
    assert(Sink.resolveIndexRoot(spark, f.dir) === s"${f.dir}/gen-1",
      "the fold must reuse the torn generation's number")
    assert(!Files.exists(Paths.get(f.dir, "gen-1", "stale")),
      "the torn generation's leftovers must not be committed")
    val clean = f.state()
    assert(f.readdServed(), "the re-added id is served")

    present.foreach(l => copyTree(s"$aside/$l", s"${f.dir}/$l"))
    assert(f.state() === clean,
      "layouts a fold absorbed must stay invisible after its commit")
    assert(f.readdServed(), "a stale tombstone must not mask the re-add")
    assert(f.fold() === ((n, 0L)), "a second fold finds nothing to fold")
    assert(f.state() === clean)
  }

  private val never = Long.MaxValue

  private def queries = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 3)
    .select((col("vec_id") + 900000L).as("query_id"), col("embedding"))

  private def ranked(
      answers: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    answers.select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sorted

  /** Each family's flat layout at `dir` after build, append (batch 0),
    * delete of ids 2 and 4 (batch 1) and re-append of id 2 (batch 2).
    */
  private def textFamily(dir: String): Family = {
    val docs = Tables.documents(spark, sf)
    Sink.writeTextIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      buckets = 8)
    Sink.appendTextIndex(spark, dir,
      docs.filter(col("doc_id") % 4 === 1), batchId = 0L)
    Sink.deleteFromTextIndex(spark, dir, Seq(2L, 4L).toDF("doc_id"), 1L)
    Sink.appendTextIndex(spark, dir, docs.filter(col("doc_id") === 2), 2L)
    Family(dir, "postings",
      () => Sink.compactTextIndex(spark, dir),
      () => {
        val t = Sink.readTextIndex(spark, dir)
        (t.nDocs, t.totalTokens, t.postings.count(),
          t.postings.select(col("doc_id")).distinct().as[Long]
            .collect().toSet,
          Sink.compactTextIndexIfNeeded(spark, dir, never, never),
          Sink.textOccupancyDrift(spark, dir).collect().toSeq)
      },
      () => !Sink.readTextIndex(spark, dir).postings
        .filter(col("doc_id") === 2L).isEmpty)
  }

  private def ivfFamily(dir: String): Family = {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.buildIvfIndexExact(
      emb.filter(col("vec_id") % 2 === 0), nlist = 4, iters = 1)
    Sink.writeIvfIndex(ivf, dir)
    ivf.unpersist()
    Sink.appendIvfIndex(spark, dir,
      emb.filter(col("vec_id") % 4 === 1), batchId = 0L)
    Sink.deleteFromIvfIndex(spark, dir, Seq(2L, 4L).toDF("vec_id"), 1L)
    Sink.appendIvfIndex(spark, dir, emb.filter(col("vec_id") === 2), 2L)
    Family(dir, "celled",
      () => Sink.compactIvfIndex(spark, dir),
      () => {
        val i = Sink.readIvfIndex(spark, dir)
        (i.celled.count(),
          ranked(Similarity.ivfQueryVectors(i, queries, k = 10, nprobe = 4)),
          Sink.compactIvfIndexIfNeeded(spark, dir, never, never, never),
          Sink.ivfOccupancyDrift(spark, dir).collect().toSeq)
      },
      () => Sink.readIvfIndex(spark, dir).celled
        .filter(col("vec_id") === 2L).count() === 1L)
  }

  private def lshFamily(dir: String): Family = {
    val emb = Tables.embeddings(spark, sf)
    val lsh = Similarity.buildLshIndex(
      emb.filter(col("vec_id") % 2 === 0), nBits = 32, bands = 8)
    Sink.writeLshIndex(lsh, dir)
    lsh.unpersist()
    Sink.appendLshIndex(spark, dir,
      emb.filter(col("vec_id") % 4 === 1), batchId = 0L)
    Sink.deleteFromLshIndex(spark, dir, Seq(2L, 4L).toDF("vec_id"), 1L)
    Sink.appendLshIndex(spark, dir, emb.filter(col("vec_id") === 2), 2L)
    Family(dir, "signed",
      () => Sink.compactLshIndex(spark, dir),
      () => {
        val l = Sink.readLshIndex(spark, dir)
        (l.signed.count(), l.postings.count(),
          ranked(Similarity.lshQueryVectors(l, queries, k = 10)),
          Sink.compactLshIndexIfNeeded(spark, dir, never, never, never),
          Sink.lshOccupancyDrift(spark, dir).collect().toSeq)
      },
      () => Sink.readLshIndex(spark, dir).signed
        .filter(col("vec_id") === 2L).count() === 1L)
  }

  Seq[(String, String => Family)](
    "text" -> textFamily, "IVF" -> ivfFamily, "LSH" -> lshFamily
  ).foreach { case (name, family) =>
    test(s"$name: a crash after a fold's commit, before its cleanup, " +
        "leaves the absorbed layouts invisible; a torn generation stays " +
        "invisible and the fold reuses its number") {
      val base = Files.createTempDirectory("crash_after_commit").toString
      try crashAfterCommitIsInvisible(family(s"$base/index"))
      finally rm(base)
    }
  }

  test("visibility is decided below the root only: a layout under a " +
      "hidden or partition-named parent reads fully") {
    val outer = Files.createTempDirectory("staged_vis_parent").toString
    try {
      val root = s"$outer/_scratch/batch_id=9/.cache/layout"
      Seq((10L, 100L, 3L), (20L, 200L, 4L))
        .toDF("n_docs", "total_tokens", "batch_id")
        .write.partitionBy("batch_id").parquet(root)
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(conf)
      assert(TinyParquet.visibleFiles(fs, p).size === 2)
      assert(TinyParquet.readDir(conf, root)
        .map(r => TinyParquet.long(r, "batch_id")).toSet === Set(3L, 4L))
      assert(TinyParquet.rowCount(conf, root) === 2L)
      plantCrashedAttempt(root, partFiles(root).head)
      assert(TinyParquet.visibleFiles(fs, p).size === 2)
      assert(TinyParquet.readDir(conf, root)
        .map(r => TinyParquet.long(r, "batch_id")).toSet === Set(3L, 4L))
      assert(TinyParquet.rowCount(conf, root) === 2L)
    } finally rm(outer)
  }
}
