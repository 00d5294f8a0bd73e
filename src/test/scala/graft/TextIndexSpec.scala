package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.sinks.Sink

/** The persisted inverted index + BM25 retrieval leg: layout round-trip
  * parity against an index-free twin, the bucket-pruning receipt, and
  * the BM25 semantics the lattice must preserve (idf ordering, tf
  * saturation, length normalization).
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("round-trip: persisted-index BM25 equals the index-free lattice " +
      "twin on the corpus fixture") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("textidx").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 64)
      val idx = Sink.readTextIndex(spark, dir)
      assert(idx.nDocs === docs.count())
      val got = TextAnalysis.bm25TopK(idx,
          Seq("vector", "hash", "merge"), k = 20)
        .as[(Long, Long)].collect().toSeq

      // index-free twin: same lattice straight from docTermCounts
      val counts = TextAnalysis.docTermCounts(docs)
      val dl = counts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val t = dl.agg(sum(col("dl"))).head.getLong(0)
      val n = docs.count()
      val wDf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("token"))
      val want = counts
        .filter(col("token").isin("vector", "hash", "merge"))
        .join(dl, "doc_id")
        .withColumn("df", count(lit(1)).over(wDf))
        .withColumn("s", expr(
          s"(((((${n}L - df + 1) * 1000000L) div (df + 1)) * tf * 2200L)" +
            s" div (tf * 1000L + (1200L * (250L + " +
            s"(750L * dl * ${n}L) div ${t}L)) div 1000L))"))
        .groupBy(col("doc_id")).agg(sum(col("s")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .as[(Long, Long)].collect().toSeq
      assert(got === want, "persisted path must equal the index-free twin")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("probe reads only its bucket directories (static partition prune)") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("textidx_pr").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 64)
      val idx = Sink.readTextIndex(spark, dir)
      val df = TextAnalysis.bm25TopK(idx, Seq("vector", "hash"), k = 5)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [bucket"),
        s"expected a bucket partition filter in:\n$plan")
      val inList = "PartitionFilters: \\[bucket#\\d+ IN \\(([^)]+)\\)".r
        .findFirstMatchIn(plan)
      assert(inList.isDefined, s"expected bucket IN (...) in:\n$plan")
      assert(inList.get.group(1).split(",").length <= 2,
        "2 terms must probe <= 2 of the 64 bucket directories")
      // and the probed buckets are the writer's arithmetic
      val want = Seq("vector", "hash")
        .map(TextAnalysis.tokenBucket(_, 64)).distinct.sorted
      assert(inList.get.group(1).split(",").map(_.trim.toInt).sorted
        .toSeq === want)
      // the token IN-list is ALSO pushed into the parquet scan (row-group
      // stats pruning inside the probed buckets)
      assert(plan.contains("PushedFilters: [In(token"),
        s"expected the token IN-list pushed to parquet in:\n$plan")
      // df must come from a grouped aggregate + broadcast join, NEVER a
      // token-partitioned window over the postings: a stop-word term at
      // corpus scale would funnel its whole postings list through one
      // window partition / one task. The only windows allowed in the
      // serve plan are the per-query rank (partitioned by query_id)
      val wins = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      wins.foreach { w =>
        val parts = w match {
          case we: org.apache.spark.sql.execution.window.WindowExec =>
            we.partitionSpec.map(_.toString)
          case wg: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
            wg.partitionSpec.map(_.toString)
        }
        assert(parts.forall(p => !p.contains("token")),
          s"df must not be a token-partitioned window, saw: $parts")
      }
      assert(plan.contains("BroadcastHashJoin"),
        s"df table must broadcast-join onto the postings:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("BM25 semantics on the lattice: rare-term idf dominance, tf " +
      "saturation, length normalization, disjunctive match") {
    // 6 docs: 'rare' in one, 'common' in five; doc 5 long, doc 6 short
    val docs = docsDf(
      (1L, "rare alpha beta gamma"),
      (2L, "common alpha beta gamma"),
      (3L, "common common alpha beta"),
      (4L, "common common common common common common common common " +
        "alpha beta"),
      (5L, "common " + Seq.fill(40)("pad").mkString(" ")),
      (6L, "common pad"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_sem").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)

      // disjunctive: a query for (rare, common) matches all six docs,
      // and the rare-term doc outranks every common-only doc
      val both = TextAnalysis.bm25TopK(idx, Seq("rare", "common"), k = 10)
        .as[(Long, Long)].collect().toSeq
      assert(both.map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L, 6L))
      assert(both.head._1 === 1L, "idf must rank the rare-term doc first")

      val score = TextAnalysis.bm25TopK(idx, Seq("common"), k = 10)
        .as[(Long, Long)].collect().toMap
      // tf saturation: 2 occurrences beat 1 (same dl), but 8 occurrences
      // score < 4x the 2-occurrence score (sub-linear growth)
      assert(score(3L) > score(2L))
      assert(score(4L) < 4L * score(3L),
        s"tf saturation must bend the curve (${score(4L)} vs 4x${score(3L)})")
      // length normalization: same tf=1, the 2-token doc beats the
      // 41-token doc
      assert(score(6L) > score(5L),
        s"shorter doc must win at equal tf (${score(6L)} vs ${score(5L)})")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("incremental ADD: replayed batch absorbed exactly-once, " +
      "incremental state == full rebuild, compaction bit parity") {
    val docs = Tables.documents(spark, sf)
    val incDir = java.nio.file.Files.createTempDirectory("textidx_i").toString
    val fullDir = java.nio.file.Files.createTempDirectory("textidx_f").toString
    try {
      Sink.writeTextIndex(docs.filter(col("doc_id") % 2 === 0), incDir)
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") % 4 === 1), batchId = 0L)
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") % 4 === 3), batchId = 1L)
      // redelivered batch: the log holds its entry, so it must not
      // double-count
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") % 4 === 3), batchId = 1L)
      Sink.writeTextIndex(docs, fullDir)

      val incIdx = Sink.readTextIndex(spark, incDir)
      val fullIdx = Sink.readTextIndex(spark, fullDir)
      assert((incIdx.nDocs, incIdx.totalTokens) ===
        ((fullIdx.nDocs, fullIdx.totalTokens)),
        "N and T must sum across base + batches, replay-invariant")
      val terms = Seq("vector", "hash", "merge")
      def topk(idx: TextAnalysis.TextIndex) =
        TextAnalysis.bm25TopK(idx, terms, k = 20)
          .as[(Long, Long)].collect().toSeq
      val inc = topk(incIdx)
      assert(inc === topk(fullIdx),
        "incremental index must score identically to a full rebuild")

      // TORN APPEND: postings landed but the `add` log entry didn't
      // (crash between the data and the entry — simulated by deleting
      // batch 1's entry, the newest: the redelivery above was a no-op)
      // — the batch must be INVISIBLE, not half-counted into df with
      // stale N/T
      dropNewestLogEntry(incDir)
      val torn = Sink.readTextIndex(spark, incDir)
      assert(torn.nDocs === fullIdx.nDocs -
        docs.filter(col("doc_id") % 4 === 3).count(),
        "uncommitted batch must not count into N")
      // replaying the batch re-commits it and restores full parity
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") % 4 === 3), batchId = 1L)
      assert(topk(Sink.readTextIndex(spark, incDir)) === inc)

      val (nPost, folded) = Sink.compactTextIndex(spark, incDir)
      assert(folded > 0L, "compaction must fold ingested files")
      // generational commit: one `fold` log entry publishes the fold —
      // no multi-rename window, superseded flat layout cleaned up
      assert(Sink.resolveIndexRoot(spark, incDir) === s"$incDir/gen-1")
      assert(!new java.io.File(s"$incDir/postings_ingested").exists())
      assert(!new java.io.File(s"$incDir/postings").exists())
      val compacted = Sink.readTextIndex(spark, incDir)
      assert(compacted.postings.count() === nPost)
      assert(topk(compacted) === inc,
        "queries must be bit-identical across compaction")
      // exactly-once ACROSS the compaction boundary: a restart from a
      // checkpoint older than the fold redelivers batch 1 — the fold's
      // absorbed set must recognize it and skip, or its docs double-count
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") % 4 === 3), batchId = 1L)
      assert(Sink.readTextIndex(spark, incDir).nDocs === fullIdx.nDocs,
        "a batch already folded into base postings must not re-enter")
      assert(topk(Sink.readTextIndex(spark, incDir)) === inc)
      // appends and further compactions keep working on the generation
      // (fresh data arrives under the stream's next monotone batch id)
      Sink.appendTextIndex(spark, incDir,
        docs.select(col("doc_id") + 900000L, col("text"))
          .toDF("doc_id", "text").limit(5), batchId = 2L)
      assert(Sink.readTextIndex(spark, incDir).nDocs ===
        fullIdx.nDocs + 5)
      val (nPost2, _) = Sink.compactTextIndex(spark, incDir)
      assert(Sink.resolveIndexRoot(spark, incDir) === s"$incDir/gen-2")
      assert(Sink.readTextIndex(spark, incDir).postings.count() === nPost2)
      // superseded committed generations are cleaned up, not leaked
      assert(!new java.io.File(s"$incDir/gen-1").exists(),
        "every committed generation below the new one must be dropped")
      // the absorbed set is cumulative: batches 0..2 all skip on replay
      val nAfter = Sink.readTextIndex(spark, incDir).nDocs
      Seq(0L, 1L, 2L).foreach { b =>
        Sink.appendTextIndex(spark, incDir,
          docs.filter(col("doc_id") % 4 === 1), batchId = b)
      }
      assert(Sink.readTextIndex(spark, incDir).nDocs === nAfter)

      // a FRESH overwrite build at this reused path supersedes all of it
      // — generations AND any ingested batches a crashed prior run left:
      // nothing stale may union into the new index
      Sink.appendTextIndex(spark, incDir,
        docs.select(col("doc_id") + 990000L, col("text"))
          .toDF("doc_id", "text").limit(3), batchId = 3L)
      Sink.writeTextIndex(docs.filter(col("doc_id") < 100), incDir)
      val rebuilt = Sink.readTextIndex(spark, incDir)
      assert(rebuilt.nDocs === docs.filter(col("doc_id") < 100).count(),
        "overwrite build must clear stale generations AND ingested layers")
      // same for the FLAT layout (no generations): appended batches at
      // the raw path must not survive a fresh overwrite build
      Sink.appendTextIndex(spark, incDir,
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 110),
        batchId = 0L)
      assert(Sink.readTextIndex(spark, incDir).nDocs > rebuilt.nDocs)
      Sink.writeTextIndex(docs.filter(col("doc_id") < 50), incDir)
      assert(Sink.readTextIndex(spark, incDir).nDocs ===
        docs.filter(col("doc_id") < 50).count(),
        "flat-layout ingested batches must not survive an overwrite build")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(incDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fullDir))
    }
  }

  test("phrase query: consecutive-only matching on positional postings, " +
      "occurrence ranking, repeated phrase terms, pruned probe, and " +
      "BM25 never reads the positions column") {
    val docs = docsDf(
      (1L, "big table hash join"),        // 1 occurrence of "table hash"
      (2L, "table hash table hash scan"), // 2 occurrences
      (3L, "table scan hash"),            // both terms, NOT adjacent
      (4L, "hash table"),                 // reversed order: no match
      (5L, "go go go stop"),              // repeated-term phrase fixture
      (6L, "go stop go"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_ph").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val got = TextAnalysis.phraseTopK(idx, Seq("table", "hash"), k = 10)
        .as[(Long, Long)].collect().toSeq
      assert(got === Seq((2L, 2L), (1L, 1L)),
        "adjacent-only, occurrence-ranked, doc_id tie-broken")
      // 3-term phrase: all three slots must land on one anchor
      assert(TextAnalysis.phraseTopK(idx, Seq("big", "table", "hash"))
        .as[(Long, Long)].collect().toSeq === Seq((1L, 1L)))
      // repeated term at two slots: "go go" anchors at 0 and 1 in doc 5
      // (overlapping occurrences both count); doc 6 has no adjacent pair
      assert(TextAnalysis.phraseTopK(idx, Seq("go", "go"))
        .as[(Long, Long)].collect().toSeq === Seq((5L, 2L)))
      // the phrase probe stays bucket-pruned like BM25's
      val phrasePlan = TextAnalysis.phraseTopK(idx, Seq("table", "hash"))
        .queryExecution.executedPlan.toString
      assert(phrasePlan.contains("PartitionFilters: [bucket"),
        s"phrase probe must prune bucket partitions:\n$phrasePlan")
      // lazily-read payload: the BM25 probe's parquet scans must not
      // touch the positions column (column pruning — the array is paid
      // for ONLY by phrase/proximity queries)
      val bm25Plan = TextAnalysis.bm25TopK(idx, Seq("table"), k = 5)
        .queryExecution.executedPlan.toString
      assert(!bm25Plan.contains("positions"),
        s"BM25 must never read the positions column:\n$bm25Plan")
      assert(phrasePlan.contains("positions"),
        "phrase scan must read the positions column")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("proximity query: exact minimal covering window, conjunctive, " +
      "ranked tightest-first") {
    val docs = docsDf(
      (1L, "alpha beta"),                        // window 2
      (2L, "alpha x x x beta"),                  // window 5
      (3L, "beta x alpha"),                      // order-free: window 3
      (4L, "alpha x x x x x x x beta x alpha"),  // min over occurrences: 3
      (5L, "alpha alpha alpha"),                 // missing beta: excluded
      (6L, "x alpha beta x alpha x x beta"))     // window 2 (pos 1-2)
    val dir = java.nio.file.Files.createTempDirectory("textidx_px").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val got = TextAnalysis.proximityTopK(idx, Seq("alpha", "beta"), k = 10)
        .as[(Long, Long)].collect().toSeq
      assert(got === Seq((1L, 2L), (6L, 2L), (3L, 3L), (4L, 3L), (2L, 5L)),
        s"min-window ranking, saw $got")
      // single-term degenerate form: every holder at window 1
      val one = TextAnalysis.proximityTopK(idx, Seq("beta"), k = 10)
        .as[(Long, Long)].collect().toSeq
      assert(one === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (6L, 1L)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("snippet query: best covering window is the (len, start) argmin " +
      "and the sliced token span matches the raw text") {
    val docs = docsDf(
      (1L, "alpha beta x x alpha x beta"),  // best window (2, 0)
      (2L, "x beta alpha y beta alpha"),    // len-2 tie at starts 1 and 4
      (3L, "alpha only here"))              // missing beta: excluded
    val dir = java.nio.file.Files.createTempDirectory("textidx_sn").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val got = TextAnalysis.snippetTopK(idx, docs,
          Seq("alpha", "beta"), k = 10)
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(got === Seq(
        (1L, 2L, 0L, "alpha beta"),
        (2L, 2L, 1L, "beta alpha")),  // tie-break: earliest start wins
        s"argmin + slice, saw $got")

      // pushdown receipt against a REAL parquet source: the k winner
      // ids must reach the documents scan as a pushed In(doc_id) filter
      // — k snippets read k rows' row groups, never the corpus
      val corpus = Tables.documents(spark, sf)
      val cdir = java.nio.file.Files.createTempDirectory("textidx_snc")
        .toString
      try {
        Sink.writeTextIndex(corpus.filter(col("doc_id") < 150), cdir,
          buckets = 8)
        val df = TextAnalysis.snippetTopK(
          Sink.readTextIndex(spark, cdir), corpus,
          Seq("vector", "hash"), k = 5)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [In(doc_id"),
          s"winner ids must push to the corpus scan:\n$plan")
        assert(df.count() === 5)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(cdir))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("phrase query across incremental ADD + compaction: positions " +
      "survive the ingested union and the generational fold") {
    val docs = docsDf(
      (1L, "alpha beta gamma"), (2L, "beta alpha beta gamma"),
      (3L, "gamma beta"), (4L, "alpha beta"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_phi").toString
    try {
      Sink.writeTextIndex(docs.filter(col("doc_id") <= 2), dir, buckets = 8)
      Sink.appendTextIndex(spark, dir,
        docs.filter(col("doc_id") > 2), batchId = 0L)
      def run() = TextAnalysis.phraseTopK(
        Sink.readTextIndex(spark, dir), Seq("alpha", "beta"), k = 10)
        .as[(Long, Long)].collect().toSeq
      val pre = run()
      assert(pre === Seq((1L, 1L), (2L, 1L), (4L, 1L)),
        "ingested docs must be phrase-searchable immediately")
      Sink.compactTextIndex(spark, dir)
      assert(run() === pre, "positions must survive compaction bit-exact")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucket census: zero drift at build, legacy layouts adopt live " +
      "as baseline, skewed ingest grows exactly its token's bucket") {
    val docs = docsDf(
      (1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "delta epsilon"), (4L, "alpha epsilon zeta"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_cen").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val d0 = Sink.textOccupancyDrift(spark, dir)
      assert(d0.filter(col("growth_ppm") =!= 0L).count() === 0L,
        "fresh build must census at zero drift")
      // skewed ingest: one token family -> exactly one bucket grows,
      // by exactly the ingested posting count
      val skew = (100L until 150L).map(i => (i, "hotterm")).toSeq
        .toDF("doc_id", "text")
      Sink.appendTextIndex(spark, dir, skew, batchId = 0L)
      val d2 = Sink.textOccupancyDrift(spark, dir)
        .filter(col("growth_ppm") > 0L)
        .select(col("n_now") - col("n_build"))
        .as[Long].collect().toSeq
      assert(d2 === Seq(50L),
        s"one bucket, grown by the 50 ingested postings, saw $d2")
      // and the baseline survives the generational fold: census
      // identical across compaction
      val pre = Sink.textOccupancyDrift(spark, dir)
        .as[(Int, Long, Long, Long)].collect().toSeq
      Sink.compactTextIndex(spark, dir)
      val post = Sink.textOccupancyDrift(spark, dir)
        .as[(Int, Long, Long, Long)].collect().toSeq
      assert(post === pre, "census must be identical across compaction")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("randomized: phrase / proximity / snippet agree with brute-force " +
      "references on dense random corpora (seeded)") {
    // 5-word alphabet over 40 short docs: collisions, repeats, and
    // overlapping matches everywhere — the regime where an off-by-one
    // in anchor shifting, window arithmetic, or argmin tie-breaks shows
    // up that hand vectors can miss
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (1L to 40L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val dir = java.nio.file.Files.createTempDirectory("textidx_rand").toString
    try {
      Sink.writeTextIndex(corpus.toDF("doc_id", "text"), dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val docsDf = corpus.toDF("doc_id", "text")
      (1 to 12).foreach { q =>
        val phrase = Seq.fill(1 + rnd.nextInt(3))(
          vocab(rnd.nextInt(vocab.size)))
        // brute phrase: sliding-window equality count per doc
        val wantPhrase = toks.toSeq.map { case (id, ts) =>
          (id, ts.sliding(phrase.size).count(_ == phrase).toLong)
        }.filter(_._2 > 0).sortBy { case (id, n) => (-n, id) }
        val gotPhrase = TextAnalysis.phraseTopK(idx, phrase, k = 50)
          .as[(Long, Long)].collect().toSeq
        assert(gotPhrase === wantPhrase, s"q$q phrase=$phrase")

        val terms = phrase.distinct
        // brute min-window: try every token span, keep spans covering
        // all terms; the (len, start) lexicographic argmin is snippet's
        val bruteBest = toks.toSeq.flatMap { case (id, ts) =>
          val spans = for {
            i <- ts.indices; j <- i until ts.length
            if terms.forall(t => (i to j).exists(p => ts(p) == t))
          } yield (j - i + 1, i)
          if (spans.isEmpty) None else Some((id, spans.min))
        }
        val wantProx = bruteBest.map { case (id, (len, _)) => (id, len.toLong) }
          .sortBy { case (id, len) => (len, id) }
        val gotProx = TextAnalysis.proximityTopK(idx, terms, k = 50)
          .as[(Long, Long)].collect().toSeq
        assert(gotProx === wantProx, s"q$q proximity terms=$terms")
        // the dynamic-slot batch form must agree with the single-set
        // per-literal-term form on every random term set
        val gotBatch = TextAnalysis.proximityQueryBatch(idx,
            Seq((7L, terms)).toDF("query_id", "terms"), k = 50)
          .select(col("doc_id"), col("window_len"))
          .as[(Long, Long)].collect().toSeq
        assert(gotBatch === wantProx, s"q$q proximity batch terms=$terms")

        val wantSnip = bruteBest
          .map { case (id, (len, start)) =>
            (id, len.toLong, start.toLong,
              toks(id).slice(start, start + len).mkString(" "))
          }
          .sortBy { case (id, len, _, _) => (len, id) }
        val gotSnip = TextAnalysis.snippetTopK(idx, docsDf, terms, k = 50)
          .as[(Long, Long, Long, String)].collect().toSeq
        assert(gotSnip === wantSnip, s"q$q snippet terms=$terms")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rrfFuse: union semantics, exact ppm contributions per leg, " +
      "doc_id tie-break") {
    val lex = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val sem = Seq((2L, 2), (4L, 1)).toDF("doc_id", "rank")
    val got = TextAnalysis.rrfFuse(lex, sem, kConst = 60L, k = 10)
      .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    // 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(got === Seq(
      (2L, 32258L, true, true),    // both legs: 16129 + 16129
      (1L, 16393L, true, false),   // tie at 16393 with doc 4:
      (4L, 16393L, false, true),   //   doc_id breaks it
      (3L, 15873L, true, false)))
  }

  test("batch form: many queries share one pruned probe; empty terms " +
      "and unknown terms degrade gracefully") {
    val docs = docsDf(
      (1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma alpha"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_b").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val reqs = Seq(
        (10L, Seq("alpha")), (11L, Seq("gamma", "zzz_unknown")),
        (12L, Seq("ALPHA", "alpha"))) // case-folded + deduped
        .toDF("query_id", "terms")
      val got = TextAnalysis.bm25QueryBatch(idx, reqs, k = 5)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq
      assert(got.filter(_._1 == 10L).map(_._2).toSet === Set(1L, 3L))
      assert(got.filter(_._1 == 11L).map(_._2).toSet === Set(2L, 3L))
      // duplicate/case variants collapse to one term - no double count
      val q10 = got.filter(_._1 == 10L).map(x => (x._2, x._3)).sorted
      val q12 = got.filter(_._1 == 12L).map(x => (x._2, x._3)).sorted
      assert(q10 === q12)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("r17: bm25QueryBatch duplicate query_id rows MERGE to the term " +
      "UNION — the documented asymmetry vs the rejecting phrase/" +
      "proximity/hybrid entries: the probe dedupes (query_id, token) " +
      "and BM25's disjunctive sum over a union IS the union request's " +
      "answer") {
    val docs = docsDf(
      (1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma alpha"),
      (4L, "alpha alpha delta"))
    val dir = java.nio.file.Files.createTempDirectory("textidx_u").toString
    try {
      Sink.writeTextIndex(docs, dir, buckets = 8)
      val idx = Sink.readTextIndex(spark, dir)
      val dup = Seq((5L, Seq("alpha", "beta")), (5L, Seq("delta")))
        .toDF("query_id", "terms")
      val union = Seq((5L, Seq("alpha", "beta", "delta")))
        .toDF("query_id", "terms")
      def rows(reqs: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bm25QueryBatch(idx, reqs, k = 10)
          .as[(Long, Long, Long, Int)].collect().toSeq.sorted
      assert(rows(dup) === rows(union),
        "duplicate-id rows must answer exactly as the single " +
          "union-terms request (scores, ranks and all)")
      assert(rows(dup).nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index writes REBALANCE: small builds coalesce to few files per " +
      "bucket dir, a hot bucket past the advisory size fans out across " +
      "tasks, and compaction keeps both properties") {
    // the round-12 verdict's finding: repartition(col("bucket")) capped
    // write tasks at the bucket count and serialized a hot bucket into
    // ONE task. A fixed repartition(n, bucket, token) uncapped it but
    // fragmented SMALL jobs (measured 4.8× on the LSH drift lifecycle —
    // every task writing a sliver into every dir). REBALANCE gives both
    // sides: AQE coalesces small jobs and skew-splits hot directories
    val docs = Tables.documents(spark, sf)
    def filesPerBucket(postingsDir: String): Seq[Int] =
      new java.io.File(postingsDir).listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(advisoryKey)
    val savedCoalesce = spark.conf.getOption(coalesceKey)
    val smallDir =
      java.nio.file.Files.createTempDirectory("textidx_small").toString
    val hotDir =
      java.nio.file.Files.createTempDirectory("textidx_hot").toString
    try {
      // side 1 — small maintenance job (default advisory 64m): the
      // whole build coalesces, so every bucket dir holds ONE file —
      // no sliver-file churn on tiny fixtures
      Sink.writeTextIndex(docs, smallDir, buckets = 2)
      val small = filesPerBucket(s"$smallDir/postings")
      assert(small.nonEmpty && small.forall(_ <= 2),
        s"small build must coalesce, got $small files per bucket")

      // side 2 — "hot directory": shrink the advisory size so this
      // corpus's buckets exceed it, standing in for a stop-word bucket
      // at 100 TB; the skew split must fan the dir out across tasks.
      // Upstream coalescing is disabled for the phase: the split
      // operates on map-output ranges, and on this tiny fixture AQE
      // otherwise collapses the upstream stage to ONE map task, leaving
      // nothing to split (at scale upstream stages have thousands of
      // map tasks — the split granularity is never the binding limit)
      spark.conf.set(advisoryKey, "16kb")
      spark.conf.set(coalesceKey, "false")
      Sink.writeTextIndex(docs, hotDir, buckets = 2)
      val hot = filesPerBucket(s"$hotDir/postings")
      assert(hot.exists(_ > 1),
        s"a hot bucket must fan out past one task, got $hot")
      val before = TextAnalysis
        .bm25TopK(Sink.readTextIndex(spark, hotDir),
          Seq("vector", "hash", "merge"), k = 10)
        .as[(Long, Long)].collect().toSeq
      // compaction under the same pressure keeps the fan-out AND the
      // answers (hash parity is also pinned by the oracle rows)
      Sink.appendTextIndex(spark, hotDir,
        docsDf((999999L, "vector hash merge")), batchId = 0L)
      Sink.compactTextIndex(spark, hotDir)
      val gen = new java.io.File(hotDir).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.last
      val compacted = filesPerBucket(s"$hotDir/$gen/postings")
      assert(compacted.exists(_ > 1),
        s"compaction exchange must stay skew-split, got $compacted")
      val after = TextAnalysis
        .bm25TopK(Sink.readTextIndex(spark, hotDir),
          Seq("vector", "hash", "merge"), k = 10)
        .as[(Long, Long)].collect().toSeq
      // the append changes N/T (so absolute scores shift); the RANKING
      // minus the appended doc must be intact
      assert(after.map(_._1).filterNot(_ == 999999L)
        === before.map(_._1).take(after.map(_._1)
          .count(_ != 999999L)))
    } finally {
      saved match {
        case Some(v) => spark.conf.set(advisoryKey, v)
        case None => spark.conf.unset(advisoryKey)
      }
      savedCoalesce match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(smallDir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(hotDir))
    }
  }

  test("duplicate doc_id rejection (r16): build and append both assert " +
      "id uniqueness on the pinned doc-stats pass — a duplicated id " +
      "would double-count its dl into T and its row into N, silently " +
      "skewing every BM25 score") {
    val dir = java.nio.file.Files.createTempDirectory("textdup").toString
    try {
      val dup = docsDf((1L, "vector table"), (1L, "hash merge"),
        (2L, "vector hash"))
      val e1 = intercept[IllegalArgumentException] {
        Sink.writeTextIndex(dup, dir, buckets = 4)
      }
      assert(e1.getMessage.contains("duplicate doc_id"))

      Sink.writeTextIndex(
        docsDf((1L, "vector table"), (2L, "vector hash")), dir,
        buckets = 4)
      val e2 = intercept[IllegalArgumentException] {
        Sink.appendTextIndex(spark, dir,
          docsDf((3L, "merge"), (3L, "table")), batchId = 0L)
      }
      assert(e2.getMessage.contains("duplicate doc_id"))
      // the torn append stayed invisible (no commit record landed) and
      // a CLEAN batch on the same id lands normally afterwards — the
      // cross-batch re-add lifecycle is untouched by the per-batch check
      assert(Sink.readTextIndex(spark, dir).nDocs === 2L)
      Sink.appendTextIndex(spark, dir, docsDf((3L, "merge table")),
        batchId = 0L)
      assert(Sink.readTextIndex(spark, dir).nDocs === 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("r17: a REJECTED overwrite build leaves the pre-existing index " +
      "fully servable — the contract checks run on the pinned input " +
      "BEFORE the destructive generation/layer clear (pre-r17, a " +
      "duplicate-bearing rebuild input destroyed the index it failed " +
      "to replace); null doc_id gets its own message") {
    val dir = java.nio.file.Files.createTempDirectory("textkeep").toString
    try {
      Sink.writeTextIndex(
        docsDf((1L, "vector table"), (2L, "vector hash")), dir,
        buckets = 4)
      Sink.appendTextIndex(spark, dir, docsDf((3L, "merge table")),
        batchId = 0L)
      val before = TextAnalysis
        .bm25TopK(Sink.readTextIndex(spark, dir),
          Seq("vector", "table"), k = 10)
        .as[(Long, Long)].collect().toSeq
      val e = intercept[IllegalArgumentException] {
        Sink.writeTextIndex(
          docsDf((7L, "alpha"), (7L, "beta"), (8L, "gamma")), dir,
          buckets = 4)
      }
      assert(e.getMessage.contains("duplicate doc_id"))
      // base + incremental layer + meta all survive the rejected build
      val idx = Sink.readTextIndex(spark, dir)
      assert(idx.nDocs === 3L, "prior lineage intact after rejection")
      assert(TextAnalysis.bm25TopK(idx, Seq("vector", "table"), k = 10)
        .as[(Long, Long)].collect().toSeq === before,
        "serving is bit-identical to the pre-rejection index")
      // null ids are their own defect class, reported as such
      val withNull = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(null, "alpha beta"),
          org.apache.spark.sql.Row(java.lang.Long.valueOf(9L), "gamma")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = true),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = true))))
      val eNull = intercept[IllegalArgumentException] {
        Sink.writeTextIndex(withNull, dir, buckets = 4)
      }
      assert(eNull.getMessage.contains("null doc_id"),
        s"null ids must not report as 'duplicate' - got ${eNull.getMessage}")
      assert(Sink.readTextIndex(spark, dir).nDocs === 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }
}
