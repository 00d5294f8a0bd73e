package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sinks.{Sink, TinyParquet}

/** "Uncommitted is invisible" against the leftovers of a crashed write
  * attempt. A Spark write that dies mid-job leaves its part files under
  * `_temporary/0/_temporary/attempt_0/...` (the file output committer)
  * or `.spark-staging-<id>/...` (dynamic partition overwrite). Those
  * files are never committed, so every reader, valve census and
  * compaction must ignore them: N/T and row counts stay put, valve
  * counts stay put, the `folded` ledger never absorbs the crashed
  * batch, and a later real append of that batch lands.
  *
  * The crashed batch id `K` is one no real write ever used. The planted
  * files are copies of real part files of the same layout, so a reader
  * that does descend into the hidden directories decodes them as rows.
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

  private def foldedLedger(root: String): Set[Long] =
    spark.read.parquet(s"$root/folded").as[Long].collect().toSet

  /** Build text, IVF and LSH indexes with appends and a delete under
    * `base`, plant a crashed attempt of batch K into every layout a
    * reader, valve or compaction lists, and check the contract.
    */
  private def crashedAttemptStaysInvisible(base: String): Unit = {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val (tdir, vdir, ldir) = (s"$base/text", s"$base/ivf", s"$base/lsh")
    val ledgerSource = s"$base/ledger_source"

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

    Seq(K).toDF("batch_id").coalesce(1).write.parquet(ledgerSource)
    val ledgerFile = partFiles(ledgerSource).head
    Seq("meta_ingested", "postings_ingested", "tombstones_meta")
      .foreach(l => plantCrashedAttempt(s"$tdir/$l", partFiles(s"$tdir/$l").head))
    Seq("ingested", "tombstones_meta")
      .foreach(l => plantCrashedAttempt(s"$vdir/$l", partFiles(s"$vdir/$l").head))
    Seq("signed_ingested", "postings_ingested", "tombstones_meta")
      .foreach(l => plantCrashedAttempt(s"$ldir/$l", partFiles(s"$ldir/$l").head))
    Seq(tdir, vdir, ldir).foreach(d => plantCrashedAttempt(s"$d/folded", ledgerFile))

    assert(textNT() === nt0, "a crashed attempt must not count into N/T")
    assert(ivfRows() === ivf0)
    assert(lshRows() === lsh0)
    assert(valves() === valves0,
      "valve censuses must not count a crashed attempt's files or batch")

    // fold everything; the ledgers hold exactly the committed batches
    assert(Sink.compactTextIndexIfNeeded(spark, tdir, maxIngestedFiles = 0L)._1)
    assert(Sink.compactIvfIndexIfNeeded(spark, vdir, maxIngestedFiles = 0L)._1)
    assert(Sink.compactLshIndexIfNeeded(spark, ldir, maxIngestedFiles = 0L)._1)
    assert(foldedLedger(Sink.resolveIndexRoot(spark, tdir)) === Set(0L, 1L, 2L))
    assert(foldedLedger(vdir) === Set(0L, 1L, 2L))
    assert(foldedLedger(ldir) === Set(0L, 1L))
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

  test("visibility is decided below the root only: a layout under a " +
      "hidden or partition-named parent reads fully") {
    val outer = Files.createTempDirectory("staged_vis_parent").toString
    try {
      val root = s"$outer/_scratch/batch_id=9/.cache/meta_ingested"
      Seq((10L, 100L, 3L), (20L, 200L, 4L))
        .toDF("n_docs", "total_tokens", "batch_id")
        .write.partitionBy("batch_id").parquet(root)
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(conf)
      assert(TinyParquet.visibleFiles(fs, p).size === 2)
      assert(TinyParquet.batchIds(fs, p) === Set(3L, 4L))
      assert(TinyParquet.readDir(conf, root)
        .map(r => TinyParquet.long(r, "batch_id")).toSet === Set(3L, 4L))
      assert(TinyParquet.rowCount(conf, root) === 2L)
      plantCrashedAttempt(root, partFiles(root).head)
      assert(TinyParquet.visibleFiles(fs, p).size === 2)
      assert(TinyParquet.batchIds(fs, p) === Set(3L, 4L))
      assert(TinyParquet.rowCount(conf, root) === 2L)
    } finally rm(outer)
  }
}
