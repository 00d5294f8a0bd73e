package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.Metrics.{force, measure}
import graft.operators.{Assembly, Curation, Dedup, Sessionize, Similarity,
  TextAnalysis}

/** Scale-up probe: replicate the sf0.1 corpus N× (shifted ids, perturbed
  * content so replicas are near-dups, not exact dups) and measure the
  * similarity/dedup operators' growth. Run:
  *
  *   sbt "runMain graft.ScaleCheck [N]"
  *
  * The point is evidence for the 100 TB design claims: candidate
  * generation must grow ~linearly in corpus size (bounded by block/bucket
  * structure), never quadratically. Each probe runs through
  * [[graft.metrics.Metrics.measure]] and prints its Spark counters next
  * to its seconds, so growth shows in counts no host's load moves.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    // optional 2nd arg: run only probes whose name contains this substring
    val only = args.lift(1)
    val spark = SparkSession.builder()
      .master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", 2 * LocalCpus.n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    val n0 = base.count()
    // replicas get distinct ids and a tiny textual perturbation so exact
    // dedup does NOT collapse them while near-dup operators must consider
    // them — the adversarial case for candidate generation
    val big = (0 until mult).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        (if (i == 0) col("text")
         else concat(col("text"), lit(s" rep$i"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(64)
      .cache()
    val n = big.count()
    println(s"corpus: $n0 -> $n docs (x$mult)")

    // one probe line: seconds, rows, then the Spark counters, which show
    // growth the same way on any host
    def time(name: String)(f: => Long): Unit =
      if (only.forall(name.contains)) {
        var rows = 0L
        val (sec, err, counters) = measure(spark) { rows = f }
        println(f"$name%-32s $sec%8.2f s   rows=$rows  ${counters.show}" +
          err.map(e => s"  ERR $e").getOrElse(""))
      }
    // whether an index build at `dir` has committed (a probe that builds
    // it may have been filtered out)
    def built(dir: String): Boolean =
      graft.sinks.IndexLog.read(spark, dir).isIndex

    time("text_stats (full scan)") {
      // force() the full projection: an .agg(sum(col)).collect() here would
      // let the optimizer prune every other quality column from the scan
      force(TextAnalysis.withQuality(big))
    }
    time("exact dedup groups") { force(Dedup.exactGroups(big)) }
    time("ngram jaccard pairs t=0.8") { force(Dedup.ngramJaccardPairs(big, 0.8)) }
    time("minhash LSH pairs t=0.8") { force(Dedup.minhashLshPairs(big, 0.8)) }
    time("simhash pairs d<=3") { force(Dedup.simhashPairs(big, 3)) }

    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val bigEmb = (0 until mult).map { i =>
      emb.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _).repartition(64).cache()
    println(s"embeddings: ${bigEmb.count()} vectors")
    time("brute-force cosine top-10 x5") {
      force(Similarity.bruteForceTopK(bigEmb, Seq(0L, 1L, 2L, 3L, 4L), 10))
    }
    // index build is the offline stage; queries must not pay it again
    var lshIdx: Similarity.LshIndex = null
    time("LSH index build (offline stage)") {
      lshIdx = Similarity.buildLshIndex(bigEmb); lshIdx.signed.count()
    }
    time("LSH ANN top-10 x5 (prebuilt)") {
      force(Similarity.lshQuery(lshIdx, Seq(0L, 1L, 2L, 3L, 4L), 10))
    }
    var ivfIdx: Similarity.IvfIndex = null
    time("IVF index build (offline stage)") {
      ivfIdx = Similarity.buildIvfIndex(bigEmb, nlist = 64); ivfIdx.celled.count()
    }
    time("IVF ANN top-10 x5 (prebuilt)") {
      force(Similarity.ivfQuery(ivfIdx, Seq(0L, 1L, 2L, 3L, 4L), 10))
    }
    // the serving path: request-shaped external vectors against the
    // prebuilt index — cost must track probed cells, not corpus size
    // the build probe may have been filtered out — pay it OUTSIDE the
    // timed serve block (a conditional corpus-sized build inside the
    // timing silently overstates serve cost — the BM25 lesson below)
    if (ivfIdx == null) ivfIdx = Similarity.buildIvfIndex(bigEmb, nlist = 64)
    time("IVF serve x5 (external vectors)") {
      val reqs = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 9000000L).as("query_id"), col("embedding"))
      force(Similarity.ivfQueryVectors(ivfIdx, reqs, k = 10, nprobe = 4))
    }
    time("NN within label (exact, agg argmax)") {
      // |block|² dots are inherent on this isotropic corpus, but pair rows
      // no longer shuffle (partial-agg argmax) — time should track CPU
      force(Similarity.nnWithinLabel(bigEmb))
    }
    time("NN within label ANN (LSH buckets)") {
      force(Similarity.nnWithinLabelAnn(bigEmb))
    }

    time("term stats: doc term counts") {
      force(TextAnalysis.docTermCounts(big))
    }
    time("term stats: per-doc top-3 terms") {
      force(TextAnalysis.distinctiveTerms(big))
    }
    // connected components on the minhash near-dup graph: pairs are
    // ~linear in corpus size here (each replica family is a clique of
    // size `mult`), so CC cost should track pair count × log rounds
    time("CC over minhash pairs (star rounds)") {
      val (cc, rounds) = graft.operators.Graph.connectedComponentsWithRounds(
        Dedup.minhashLshPairs(big, 0.8)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      val n = cc.count()
      println(s"  CC rounds-to-convergence: $rounds")
      n
    }
    time("int8 quantization (narrow)") {
      force(Similarity.quantizeInt8(bigEmb))
    }
    // integer Lloyd's: iters × (codegen'd assignment scan + k-row partial
    // agg); no pair generation, no corpus-keyed exchange — the shuffle
    // carries ≤ partitions × k rows of (cluster, 64 sums, count). Expect
    // scan-bound ~linear in corpus size, flat in k beyond the argmin loop
    time("kmeans integer lloyd (k=8, 3it)") {
      force(graft.operators.Clustering.kmeansSummary(spark, bigEmb))
    }
    // integer-exact SemDeDup = lloyd cells + within-cell pairs + CC; the
    // pair stage is within-cell all-pairs (the SemDeDup recipe) so cost
    // tracks Σ|cell|² — k partitions the corpus, so ×2 corpus → ×4 pair
    // work at fixed k; real deployments scale k with corpus size to hold
    // |cell| constant
    time("semantic dedup exact (kmeans cells)") {
      force(graft.operators.Dedup.semanticDedupExact(bigEmb))
    }
    // deterministic IVF build: lloyd training scans + one assignment scan
    // + persist — same shape as the float build minus the sampling stage
    time("IVF exact build (offline stage)") {
      val idx = Similarity.buildIvfIndexExact(bigEmb, nlist = 64)
      val n = idx.celled.count()
      idx.unpersist()
      n
    }
    // purity audit: assignment scan + count-tuple shuffle + tiny window
    time("cluster-label purity (k=8)") {
      force(graft.operators.Clustering.clusterLabelProfile(bigEmb))
    }
    // drift audit: lloyd on the train half + ONE all-corpus assignment
    // scan + k-row agg — kmeans cost plus half a scan
    time("occupancy drift (half-split)") {
      force(graft.operators.Clustering.occupancyDrift(bigEmb))
    }

    time("assembly: hash split (narrow)") {
      Assembly.hashSplit(big, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").count().count()
    }
    time("assembly: stratified sample 1/5") {
      force(Assembly.stratifiedSample(big, "lang", "doc_id", 1, 5))
    }
    time("assembly: global shuffle") {
      force(Assembly.globalShuffle(big, "doc_id"))
    }
    time("curation pipeline (score+dedup+split)") {
      force(Curation.curate(big))
    }
    // build census: frontier materialization happens at CONSTRUCTION
    // (eager localCheckpoint per stage), so the thunk times the whole
    // build + the 8-branch census over in-memory frontiers — the
    // single-scan plan shape BehaviorSpec/CurationOpsSpec pin
    time("build census (materialized frontiers)") {
      force(Curation.buildReport(big, SparkEntry.derivedUrl,
        maxPerSource = 1000))
    }
    time("assembly: greedy sequence packing") {
      force(Assembly.packSequences(big, 256))
    }
    // benchmark side stays FIXED as the corpus grows (every 20th base doc)
    // — the realistic shape: contamination cost must track the corpus
    // scan, not the benchmark
    time("contamination audit (fixed benchmark)") {
      force(TextAnalysis.contamination(big,
        isBenchmark = col("doc_id") % 20 === 0 && col("doc_id") < 1000000L))
    }
    time("repetition metrics (2 scans)") {
      force(TextAnalysis.repetitionMetrics(big))
    }
    // nightly-ingest shape: batch = one replica slab, reference = the rest
    time("cross-corpus dedup (1-slab batch)") {
      force(Dedup.crossCorpusNew(
        batch = big.filter(col("doc_id") >= (mult - 1).toLong * 1000000L),
        reference = big.filter(col("doc_id") < (mult - 1).toLong * 1000000L)))
    }
    time("per-source cap (two-phase)") {
      force(Curation.capPerSource(big, 1000))
    }
    // replicas share every span with their base doc — the adversarial
    // case for span dedup: duplicate mass grows with mult while the
    // surviving set stays ~constant
    time("span dedup (10-word spans)") {
      force(Dedup.spanDedup(big, 10))
    }
    time("gopher quality rules (1 scan)") {
      force(TextAnalysis.gopherQuality(big).filter(col("pass_gopher")))
    }
    time("pii redact (1 scan)") {
      // force() the registered plan: timing via .agg(sum("n_emails")) let
      // the optimizer prune the redact (3 regexp_replace), md5, and
      // phone/IP columns, so only the email-count regex actually ran
      force(graft.operators.Pii.audit(big,
        concat(col("text"), lit(" x"), col("doc_id").cast("string"),
          lit("@example.com"))))
    }
    // MG sketch vs the exact Zipf head: both one token pass, but the
    // sketch's shuffle payload is capacity-sized summaries, not the
    // vocabulary×doc table
    time("heavy hitters sketch (MG, cap=32)") {
      force(TextAnalysis.heavyHitters(big, 32))
    }
    time("exact token frequencies (head 50)") {
      force(TextAnalysis.tokenFrequencies(big, 50))
    }
    // bloom twin of the nightly-ingest shape above: the clear fraction
    // of the batch must skip the anti-join, so growth tracks the batch
    // scan + the (fixed) reference sketch build
    time("cross-corpus bloom (1-slab batch)") {
      force(Dedup.crossCorpusNewBloom(
        batch = big.filter(col("doc_id") >= (mult - 1).toLong * 1000000L),
        reference = big.filter(col("doc_id") < (mult - 1).toLong * 1000000L),
        expectedItems = n0 * (mult - 1).toLong, fpp = 0.03))
    }
    // replicas share every chunk with their base doc — hot-set size
    // stays ~constant while duplicate mass grows with mult
    time("boilerplate removal (10-word chunks)") {
      force(Dedup.boilerplateRemoval(big, 10))
    }
    time("semantic dedup (SemDeDup, within-label)") {
      force(Dedup.semanticDedup(bigEmb))
    }
    // bigram LM: model table is vocabulary-sized (constant under
    // replication — replicas add mass, not vocabulary, bar the repN
    // token), scoring join is vocab⋈per-doc-counts — expect ~linear
    time("bigram LM score") { force(TextAnalysis.lmScore(big)) }
    // containment postings join, EXACT semantics: ×mult replication is
    // this operator's adversarial case twice over — every family yields
    // mult² directional output pairs AND every gram's df multiplies by
    // mult, so the postings-join floor Ω(Σ df²) grows ×mult². That floor
    // is the measured quantity here. (The maxDf cap is the real-corpus
    // guard — Zipf vocabularies put df=1 on most grams and the cap only
    // sheds the stopword-shingle head; on THIS 30-word synthetic
    // vocabulary every df is ~uniform×mult, so any useful cap would shed
    // everything — capped-run completeness is spec-checked instead.)
    time("containment pairs 60% (exact)") {
      force(Dedup.containmentPairs(big, 60))
    }
    time("tf-idf search top-20 (3 terms)") {
      force(TextAnalysis.searchTopK(big, Seq("vector", "hash", "merge"), 20))
    }
    // url dedup: canonicalization is a narrow map; the only exchange is
    // the canonical-key shuffle with re-crawl-sized groups — expect ~linear
    time("url canonicalize + dedup") {
      force(graft.operators.Urls.urlDedup(big, SparkEntry.derivedUrl))
    }
    // PR curve: one scan + |thresholds| partials per task — expect
    // scan-bound ~linear, output constant (9 rows)
    time("classifier PR curve (9 cuts)") {
      force(TextAnalysis.classifierPrCurve(big, col("n_chars") >= 300L,
        Seq(-300L, -200L, -100L, -50L, 0L, 50L, 100L, 200L, 300L)))
    }
    // curriculum: range-partitioned sort + zipWithIndex offset pass — the
    // distributed global-rank plan; expect ~n log n in the sort
    time("curriculum order (global rank)") {
      force(Assembly.curriculumOrder(big, expr("n_chars div 100")))
    }
    // oov audit: two keyed aggregations + broadcast vocab join — ~linear
    time("oov audit (top-20 vocab)") {
      force(TextAnalysis.oovAudit(big, 20))
    }
    // BPE training: ONE corpus tokenize into (word, freq), then 8
    // iterations over the VOCABULARY table only — corpus cost is the
    // scan, iteration cost is vocab-sized (constant here as replicas
    // only add rep1..repN tokens) — expect scan-bound ~linear
    time("bpe train 8 merges") {
      val m = graft.operators.Tokenizer.bpeMerges(big, 8)
      m.queryExecution.toRdd.count()
    }
    // driver-local merge loop: one corpus pass + one vocab collect, then
    // ALL iterations driver-side — wall-time ~flat in steps (the Spark
    // loop above pays one job per step; at 8x the steps the local loop
    // should cost ~the same scan + epsilon)
    time("bpe train 8 merges (local loop)") {
      val m = graft.operators.Tokenizer.bpeMergesLocal(big, 8)
      m.queryExecution.toRdd.count()
    }
    time("bpe train 64 merges (local loop)") {
      val m = graft.operators.Tokenizer.bpeMergesLocal(big, 64)
      m.queryExecution.toRdd.count()
    }
    // BPE encode: merge table folded into one narrow literal-replace
    // projection — no join, no shuffle; expect scan-bound ~linear
    time("bpe encode (8 merges)") {
      val merges = graft.operators.Tokenizer.bpeMerges(big, 8)
        .select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      force(graft.operators.Tokenizer.bpeEncode(big, merges))
    }
    // DSIR: one tokenize pass -> (doc, bucket) partials; weight table is
    // bucket-sized (broadcast); top-k key via per-partition heaps — the
    // only corpus-keyed exchange is the doc_id scoring sum — ~linear
    time("dsir select (1024 buckets)") {
      force(Curation.dsirSelect(big, col("lang") === "en",
        buckets = 1024, k = 1000))
    }

    val ev = Tables.events(spark, "/root/testdata/sf0.1")
    time("sessionize 100k events") { force(Sessionize.batchSessions(ev)) }
    // replicate events with SHIFTED user ids: corpus grows by users (the
    // 100 TB shape), per-user density constant — interval-join and
    // sessionize state must scale with users, pair work per key constant
    val bigEv = (0 until mult).map { i =>
      ev.select((col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        col("ts"), col("event_type"), col("value"))
    }.reduce(_ unionByName _).repartition(64).cache()
    println(s"events: ${bigEv.count()} rows")
    time("interval join click->purchase 30m") {
      graft.streaming.StreamJoin
        .followWithinBatch(bigEv, "click", "purchase", 30)
        .queryExecution.toRdd.count()
    }
    time(s"sessionize ${mult * 100}k events") {
      force(Sessionize.batchSessions(bigEv))
    }
    // funnel: per stage one filtered scan + user-keyed agg + a join
    // against the SHRINKING user frontier — users grow ×mult, per-user
    // density constant, expect ~linear
    time("funnel view>click>purchase") {
      force(graft.operators.Behavior.funnel(bigEv))
    }
    // cohort retention: distinct (user, day) + user-keyed min + join —
    // all user-scaling shuffles of 16-byte pairs, expect ~linear
    time("cohort retention (day lattice)") {
      force(graft.operators.Behavior.cohortRetention(bigEv))
    }
    // MAD outliers: the cumulative-median windows run on the (type,
    // cents) value LATTICE — replication adds corpus mass but not
    // lattice values, so window cost stays constant; expect scan-bound
    time("mad outliers (cents lattice)") {
      force(graft.operators.Behavior.madOutliers(bigEv))
    }
    // readability: pure regexp counting, zero shuffle — scan-bound
    time("readability (1 scan)") {
      force(TextAnalysis.readability(big))
    }
    // dup-gram fraction: postings shape; replicas multiply every gram's
    // df by ~mult but postings volume (the join + both aggs) is ~linear
    // in corpus size
    time("dup-gram fraction (5-grams)") {
      force(TextAnalysis.dupGramFraction(big))
    }
    // ccnet buckets: lmScore (scan + vocab model) + lattice-window cuts —
    // expect ~lmScore plus epsilon
    time("ccnet buckets (terciles)") {
      force(Curation.ccnetBuckets(big))
    }
    // kNN label audit: FIXED 200-probe broadcast × growing corpus scan +
    // probe-keyed top-k — expect ~linear in corpus size
    time("knn label audit (200 probes)") {
      force(Similarity.knnLabelAudit(bigEmb))
    }
    // diverse sample: lloyd iterations + narrow bounded-heap phase —
    // expect ~kmeans cost; the quota window sees ≤ perCell×parts×k rows
    time("diverse sample (8 cells x10)") {
      force(graft.operators.Clustering.diverseSample(bigEmb))
    }
    // perceptual-hash pairs: mapPartitions hash pass + banded join;
    // replica texts differ (repN suffix) so stub hashes stay spread —
    // expect ~linear, no bucket blowup
    time("phash near-dup pairs (banded)") {
      force(graft.operators.Multimodal.imageNearDupPairs(
        graft.operators.Multimodal.asMedia(big)))
    }
    // triangles: degree-oriented wedge join on the part co-purchase
    // graph; a 2nd shifted copy of the graph doubles nodes/edges with
    // identical structure — triangle work should ~double, not square
    val o = Tables.orders(spark, "/root/testdata/sf0.1")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .select(col("l_orderkey"), col("l_partkey"))
    val items = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val basePairs = items.as("a")
      .join(items.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst"))
      .cache()
    println(s"co-purchase edges (pre-distinct): ${basePairs.count()}")
    time("triangles (1x graph)") {
      force(graft.operators.Graph.triangleStats(basePairs))
    }
    time("triangles (2x disjoint graph)") {
      val shifted = basePairs.select(
        (col("src") + 10000000L).as("src"), (col("dst") + 10000000L).as("dst"))
      force(graft.operators.Graph.triangleStats(basePairs.union(shifted)))
    }
    // DOULION estimate on the SAME full graph: p=1/4 keeps ~m/4 edges so
    // the wedge join (the exact census's Ω-floor) runs at ~p² of the
    // exact cost — the affordability receipt next to the exact probes
    // above; the printed row carries the estimate for eyeballing against
    // the exact count
    time("triangles sampled p=1/4 (1x graph)") {
      val r = graft.operators.Graph
        .triangleStatsSampled(basePairs, sampleDenom = 4).collect()(0)
      println(s"  sampled: edges ${r.getLong(0)} -> ${r.getLong(2)}, " +
        s"tri_sampled ${r.getLong(3)}, est ${r.getLong(4)}")
      1L
    }
    time("triangles sampled p=1/16 (1x graph)") {
      val r = graft.operators.Graph
        .triangleStatsSampled(basePairs, sampleDenom = 16).collect()(0)
      println(s"  sampled: edges ${r.getLong(0)} -> ${r.getLong(2)}, " +
        s"tri_sampled ${r.getLong(3)}, est ${r.getLong(4)}")
      1L
    }
    // LPA early stop: rounds-to-convergence on the full co-purchase
    // graph at the registered cap and a deep cap — evidence the stop
    // rule (fixed point / 2-cycle) fires before the cap on real graphs
    time("label propagation (cap 5)") {
      val (df, rounds) = graft.operators.Graph
        .labelPropagationWithRounds(basePairs, iterations = 5)
      val n = force(df)
      println(s"  LPA rounds-to-stop: $rounds of cap 5")
      n
    }
    time("label propagation (cap 20)") {
      val (df, rounds) = graft.operators.Graph
        .labelPropagationWithRounds(basePairs, iterations = 20)
      val n = force(df)
      println(s"  LPA rounds-to-stop: $rounds of cap 20")
      n
    }
    // bpe minFreq floor: on the replicated corpus the base vocabulary is
    // high-frequency but every doc_id-ish token is near-hapax — the
    // floor should shrink the driver collect sharply while early merges
    // stay identical (spec asserts the equality; this prints the sizes)
    time("bpe local vocab floor probe") {
      val all = big.select(explode(TextAnalysis.wordArray(col("text"))).as("w"))
        .groupBy("w").count()
      val total = all.count()
      val floored = all.filter(col("count") >= 2).count()
      println(s"  vocab rows: $total -> $floored at minFreq=2")
      val a = graft.operators.Tokenizer.bpeMergesLocal(big, 8)
        .select("lhs", "rhs").collect().toSeq
      val b = graft.operators.Tokenizer.bpeMergesLocal(big, 8, minFreq = 2L)
        .select("lhs", "rhs").collect().toSeq
      println(s"  merges at floor 2 identical to floor 1: ${a == b}")
      total
    }

    // weight-thresholded co-purchase graph (k-core / link-score input):
    // parts co-occurring in >= 2 orders — the weight cut is the
    // sparsifier, so probes measure the peel, not a dense clique soup
    val wPairs = items.as("a")
      .join(items.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u").as("src"), col("v").as("dst"))
      .cache()
    println(s"weighted co-purchase edges (w>=2): ${wPairs.count()}")
    // k-core peel: per round one degree count + two semi joins; 2x
    // disjoint graph should cost ~2x per round with UNCHANGED round
    // count (components peel independently)
    time("k-core k=2 (weighted graph)") {
      val (df, rounds) = graft.operators.Graph.kCoreWithRounds(wPairs, 2)
      val n = force(df)
      println(s"  peel rounds-to-fixed-point: $rounds")
      n
    }
    // sf0.1's weighted graph is RELATIVELY sparser than sf0.01's (10x
    // orders but 10x parts: pair repeats thin out), so its 3-core is
    // empty — the peel proves it in 3 rounds; the sf0.01 gate exercises
    // the non-trivial 935-node core
    time("k-core k=3 (weighted graph)") {
      val (df, rounds) = graft.operators.Graph.kCoreWithRounds(wPairs, 3)
      val n = force(df)
      println(s"  peel rounds-to-fixed-point: $rounds")
      n
    }
    time("k-core k=3 (2x disjoint graph)") {
      val shifted = wPairs.select((col("src") + 10000000L).as("src"),
        (col("dst") + 10000000L).as("dst"))
      val (df, rounds) = graft.operators.Graph
        .kCoreWithRounds(wPairs.union(shifted), 3)
      val n = force(df)
      println(s"  peel rounds-to-fixed-point: $rounds")
      n
    }
    time("common-neighbor scores (weighted graph)") {
      force(graft.operators.Graph.commonNeighborScores(wPairs))
    }
    // PQ: training is iters x one scan; the ADC scan is corpus x probes
    // lookups over 4-bit codes — expect ~linear in corpus size
    time("PQ train+encode+ADC top-5 x8") {
      force(Similarity.pqTopK(bigEmb))
    }
    // PMI: tokenize pass + doc-keyed pair join; replicas multiply df
    // uniformly, pair work ~linear in corpus (vocab fixed)
    time("PMI pairs (minDf 5)") {
      force(TextAnalysis.pmiPairs(big))
    }
    // TextRank: pmiPairs cost + PageRank on the VOCABULARY-sized graph —
    // the iterative stage is corpus-size-independent
    time("TextRank keywords (top 20)") {
      force(TextAnalysis.textRankKeywords(big))
    }
    // composed IVF-PQ: coarse cells + code-only ADC + shortlist rerank
    time("IVF-PQ query x5 (flat codes)") {
      force(Similarity.ivfPqQuery(bigEmb, Seq(0L, 1L, 2L, 3L, 4L)))
    }
    time("IVF-PQ query x5 (residual codes)") {
      force(Similarity.ivfPqResidualQuery(bigEmb, Seq(0L, 1L, 2L, 3L, 4L)))
    }
    // attribution: user-keyed conv x touch join — users grow xmult,
    // per-user density constant, expect ~linear
    time("attribution 24h window") {
      force(graft.operators.Behavior.linearAttribution(bigEv))
    }
    time("attribution 24h window (bucketed)") {
      force(graft.operators.Behavior.linearAttribution(bigEv,
        bucketed = true))
    }
    // DENSE-USER adversary: same user ids, histories grow xmult (each
    // replica shifted +i x 40 days, so window-local density is constant
    // while lifetime conv x touch grows xmult^2). The user-keyed join
    // must go quadratic here; the (user, bucket)-keyed interval join
    // stays ~linear — the switch SCALING.md prescribes, measured.
    val denseEv = (0 until mult).map { i =>
      ev.select(col("user_id"),
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        (col("ts") + expr(s"INTERVAL ${i * 40} DAYS")).as("ts"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _).repartition(64).cache()
    println(s"dense events: ${denseEv.count()} rows")
    time("attribution dense users (user-keyed)") {
      force(graft.operators.Behavior.linearAttribution(denseEv))
    }
    time("attribution dense users (bucketed)") {
      force(graft.operators.Behavior.linearAttribution(denseEv,
        bucketed = true))
    }
    // ewma: bucket table is (type, hour)-sized — constant under user
    // replication; expect scan-bound
    time("ewma trend (hour lattice)") {
      force(graft.operators.Behavior.ewmaTrend(bigEv))
    }
    time("k-anonymity audit (QI groups)") {
      val e = bigEv
        .withColumn("day_us", unix_micros(date_trunc("day", col("ts"))))
        .withColumn("vb", expr(
          "cast(cast(value as decimal(18,2)) * 100 as long) div 1000"))
      force(graft.operators.Pii.kAnonymityAudit(e,
        Seq(col("event_type"), col("day_us"), col("vb")), col("user_id")))
    }

    // quantile z-order on a heavy-tailed column: cut computation is one
    // approx_percentile agg; bucketing is a 255-compare codegen'd fold
    // per row per column — both scan-shaped, expect ~linear
    val skewEv = bigEv.select(col("user_id"), expr(
      "cast(cast(value as decimal(18,2)) * 100 as long)").as("c"))
      .select(col("user_id"), (col("c") * col("c") * col("c")).as("skewed"))
    time("quantile z-order census (skewed col)") {
      force(graft.operators.Layout.scanFractionPpm(
        graft.operators.Layout.zorderSkippingCensusQuantile(
          skewEv, Seq("user_id", "skewed"), Map("skewed" -> 40000000000L))))
    }
    time("minmax z-order census (skewed col)") {
      force(graft.operators.Layout.scanFractionPpm(
        graft.operators.Layout.zorderSkippingCensus(
          skewEv, Seq("user_id", "skewed"), Map("skewed" -> 40000000000L))))
    }

    // theta census lifecycle: delta build is one scan into KiB/group
    // partials; merge + overlap run on census rows only — the overlap
    // cost must NOT grow with corpus size once deltas are built
    time("theta census: 2 deltas + merge + overlap") {
      val e = bigEv.withColumn("day", (unix_micros(
        date_trunc("day", col("ts"))) / 86400000000L).cast("long"))
      def delta(p: Int) = graft.operators.Census.thetaSketchTable(
        e.filter(pmod(col("day"), lit(2)) === p), "user_id",
        Seq("event_type"))
      val census = graft.operators.Census.mergeThetaCensus(
        delta(0), delta(1), Seq("event_type"))
      force(graft.operators.Census.overlapFromCensus(
        census.filter(col("event_type") === "purchase"),
        census.filter(col("event_type") === "error")))
    }

    // video near-dup: one container-walk pass → per-clip hash sets,
    // banded LSH candidates (bounded by true near-dup structure: each
    // clip pairs with its planted re-cut), exact sorted-merge verify
    time("video near-dup pairs (clips from docs)") {
      import spark.implicits._
      val chunked = big
        .filter(col("n_chars") >= 256)
        .select(col("doc_id"),
          array((0 until 8).map(i =>
            substring(col("text"), i * 32 + 1, 32)): _*).as("frames"))
        .as[(Long, Seq[String])]
      val clips = chunked.mapPartitions { it =>
        it.flatMap { case (id, fs) =>
          val bytes = fs.map(_.getBytes("UTF-8"))
          val a = graft.operators.Multimodal.packFrames(bytes)
          val b = graft.operators.Multimodal.packFrames(bytes.take(7))
          Seq(graft.operators.Multimodal
              .MediaRow(id, "video/gfv", a.length.toLong, a),
            graft.operators.Multimodal.MediaRow(id + 100000000L,
              "video/gfv", b.length.toLong, b))
        }
      }.toDF()
      force(graft.operators.Multimodal.videoNearDupPairs(
        clips, minJaccardPpm = 700000L, k = 32, bands = 16, rowsPerBand = 2))
    }

    // KLL quantile census: each delta is one scan into ~3 KiB/group
    // partials; the roll-up + 4-percentile report and the KS drift
    // test run on CENSUS ROWS only — corpus-size-independent once the
    // deltas exist
    time("KLL census: 2 deltas + merge + percentiles + KS drift") {
      val e = bigEv
        .withColumn("cents", expr(
          "cast(cast(value as decimal(18,2)) * 100 as long)"))
        .withColumn("day", (unix_micros(date_trunc("day", col("ts")))
          / 86400000000L).cast("long"))
      def delta(p: Int) = graft.operators.Census.quantileSketchTable(
        e.filter(pmod(col("day"), lit(2)) === p), "cents",
        Seq("event_type"), k = 400)
      val census = graft.operators.Census.mergeQuantileCensus(
        delta(0), delta(1), Seq("event_type"), k = 400)
      force(graft.operators.Census.quantilesFromCensus(
          census, Seq("event_type"),
          Seq(100000L, 500000L, 900000L, 990000L), k = 400)
        .unionByName(
          graft.operators.Census.distributionDrift(
              census.filter(col("event_type") === "click"),
              census.filter(col("event_type") === "error"), k = 400)
            .select(lit("drift").as("event_type"), col("ks_ppm")
              .as("rank_ppm"), col("n_a").as("n"),
              col("n_b").as("quantile_est"))))
    }

    // frequent-items census over ~2.7M corpus tokens: maxMapSize
    // counters per partial regardless of vocabulary; merge +
    // threshold report on census rows
    time("freq census: 2 deltas + merge + heavy hitters") {
      val toks = graft.operators.TextAnalysis.tokens(big)
      def delta(p: Int) = graft.operators.Census.freqSketchTable(
        toks.filter(pmod(col("doc_id"), lit(2)) === p), "token",
        Seq(), maxMapSize = 1024)
      force(graft.operators.Census.heavyHittersFromCensus(
        graft.operators.Census.mergeFreqCensus(
          delta(0), delta(1), Seq(), 1024),
        Seq(), threshold = 1000L, maxMapSize = 1024))
    }

    // LSH serving with external vectors against the prebuilt index —
    // cost must track probed buckets, not corpus size (the IVF serve
    // probe's twin)
    // fallback build OUTSIDE the timing, as above
    if (lshIdx == null) lshIdx = Similarity.buildLshIndex(bigEmb)
    time("LSH serve x5 (external vectors)") {
      val reqs = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 9000000L).as("query_id"), col("embedding"))
      force(Similarity.lshQueryVectors(
        Similarity.lshIndexView(lshIdx), reqs, k = 10))
    }

    // inverted-index lifecycle: the build is the tokenize pass + one
    // bucket-partitioned write (scan-shaped, expect ~linear in corpus);
    // the BM25 serve reads probed bucket directories only — its cost
    // must track Σ df(term) posting rows, NOT corpus size (df grows
    // with replication, so serve grows with matched postings, never
    // with unmatched corpus)
    val textIdxDir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "sc_textidx").toString
    time("text index build (postings + meta)") {
      graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
      spark.read.parquet(s"$textIdxDir/postings").count()
    }
    // the build probe may have been filtered out — pay the build HERE,
    // OUTSIDE the timed serve block: a conditional corpus-sized rebuild
    // inside the timing would silently overstate serve cost
    if (!built(textIdxDir)) {
      graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
    }
    time("BM25 serve (one probe, 5 queries, persisted index)") {
      import spark.implicits._
      val idx = graft.sinks.Sink.readTextIndex(spark, textIdxDir)
      val reqs = Seq(
        (1L, Seq("vector", "hash")), (2L, Seq("merge", "stream")),
        (3L, Seq("vector")), (4L, Seq("hash", "merge", "vector")),
        (5L, Seq("stream"))).toDF("query_id", "terms")
      force(graft.operators.TextAnalysis.bm25QueryBatch(idx, reqs, k = 20))
    }
    // phrase probe: candidates from the same bucket-pruned term probe,
    // then Σ tf anchor rows into one (doc, anchor) aggregate — cost must
    // track the phrase terms' matched postings, never corpus size.
    // Fallback build stays OUTSIDE the timed block (the BM25 lesson)
    if (!built(textIdxDir)) {
      graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
    }
    time("phrase serve (persisted index)") {
      val idx = graft.sinks.Sink.readTextIndex(spark, textIdxDir)
      force(graft.operators.TextAnalysis.phraseTopK(
        idx, Seq("table", "hash"), k = 20))
    }
    // DELETE lifecycle at scale: the tombstone write joins the deletion
    // ids against the doc-bucketed doc_stats SIDECAR, statically pruned
    // to the ids' bucket directories — O(deletion batch), NOT O(index).
    // The deletion batch is FIXED at 1000 docs regardless of the
    // replication multiplier, so the ×1 and ×10 walls of this probe
    // must MATCH (the pre-sidecar implementation scanned the postings'
    // (doc_id, dl) projection and tracked index size). Serve overhead
    // is one broadcast anti-join; the compaction fold runs the n-way
    // write distribution (not bucket-count-capped)
    if (!built(textIdxDir)) {
      graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
    }
    // a rerun against a CACHED index dir (build probe filtered out)
    // would re-issue a batch the index's commit log already holds, so
    // the timer would measure the replay skip: take the first batch id
    // the log has never seen, so the probe always measures a
    // FIRST-TIME tombstone write even against a compacted cache
    val delBatchId = graft.sinks.IndexLog.read(spark, textIdxDir)
      .absorbedByFold.maxOption.fold(0L)(_ + 1L)
    time("text delete (fixed 1000-doc batch)") {
      graft.sinks.Sink.deleteFromTextIndex(spark, textIdxDir,
        big.filter(col("doc_id") < 1000).select(col("doc_id")),
        batchId = delBatchId)
      1L
    }
    // the delete probe may have been filtered out — pay the tombstone
    // write OUTSIDE the timed serve block (the BM25-build lesson); a
    // replay of a landed batch is a no-op
    graft.sinks.Sink.deleteFromTextIndex(spark, textIdxDir,
      big.filter(col("doc_id") < 1000).select(col("doc_id")),
      batchId = delBatchId)
    time("BM25 serve (tombstoned index)") {
      import spark.implicits._
      val idx = graft.sinks.Sink.readTextIndex(spark, textIdxDir)
      val reqs = Seq(
        (1L, Seq("vector", "hash")), (2L, Seq("merge", "stream")),
        (3L, Seq("vector")), (4L, Seq("hash", "merge", "vector")),
        (5L, Seq("stream"))).toDF("query_id", "terms")
      force(graft.operators.TextAnalysis.bm25QueryBatch(idx, reqs, k = 20))
    }
    time("text compaction (delete fold, n-way)") {
      graft.sinks.Sink.compactTextIndex(spark, textIdxDir)._1
    }

    // HYBRID serve: both legs pruned (term buckets of the just-compacted
    // text index + integer-lattice probe cells of the persisted
    // exact-Lloyd index); the fuse is a request-sized cascade — hybrid
    // must cost ~the sum of its legs. Builds stay OUTSIDE the timed
    // serve block (the BM25 lesson above)
    val hybDir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "sc_hybidx").toString
    time("IVF exact build + persist") {
      val built = Similarity.buildIvfIndexExact(bigEmb, nlist = 16,
        iters = 2)
      graft.sinks.Sink.writeIvfIndex(built, hybDir)
      built.unpersist()
      spark.read.parquet(s"$hybDir/celled").count()
    }
    if (!built(hybDir)) {
      val built = Similarity.buildIvfIndexExact(bigEmb, nlist = 16,
        iters = 2)
      graft.sinks.Sink.writeIvfIndex(built, hybDir)
      built.unpersist()
    }
    if (!built(textIdxDir)) {
      graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
    }
    time("hybrid serve (2 pruned legs, 3 requests)") {
      import spark.implicits._
      val tIdx = graft.sinks.Sink.readTextIndex(spark, textIdxDir)
      val aIdx = graft.sinks.Sink.readIvfIndex(spark, hybDir)
      val embQ = bigEmb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val reqs = Seq(
        (0L, Seq("vector", "hash")), (1L, Seq("merge")),
        (2L, Seq("table", "hash"))).toDF("query_id", "terms")
        .join(embQ, "query_id")
      force(graft.operators.TextAnalysis.rrfQueryBatch(
        tIdx, aIdx, reqs, k = 20, legK = 50, nprobe = 4))
    }
    // TOMBSTONE-PRESSURE VALVE cycle (r15): serve latency must stay FLAT
    // across delete → valve → fold on a vector index. The delete batch is
    // FIXED at 1000 ids while the index grows with the multiplier, so the
    // delete write and all three serve probes must match across ×1/×10;
    // the fold itself is the maintenance rewrite (O(index), amortized
    // over the sweeps it absorbs — reported, not claimed flat). Builds
    // and fallbacks stay OUTSIDE the timed blocks (the BM25 lesson).
    if (!built(hybDir)) {
      val built = Similarity.buildIvfIndexExact(bigEmb, nlist = 16,
        iters = 2)
      graft.sinks.Sink.writeIvfIndex(built, hybDir)
      built.unpersist()
    }
    def valveServe(tag: String): Unit =
      time(s"valve serve ($tag)") {
        val reqs = emb.filter(col("vec_id") < 3)
          .select((col("vec_id") + 9000000L).as("query_id"),
            col("embedding"))
        force(Similarity.ivfQueryVectorsIntProbe(
          graft.sinks.Sink.readIvfIndex(spark, hybDir), reqs,
          k = 10, nprobe = 4))
      }
    valveServe("clean index")
    time("valve: IVF delete (fixed 1000-id batch)") {
      graft.sinks.Sink.deleteFromIvfIndex(spark, hybDir,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 1100)
          .select(col("vec_id")),
        batchId = 3L)
      1L
    }
    // the delete probe may have been filtered out; a replay of a
    // landed batch is a no-op
    graft.sinks.Sink.deleteFromIvfIndex(spark, hybDir,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 1100)
        .select(col("vec_id")),
      batchId = 3L)
    valveServe("tombstoned")
    time("valve: fold (compactIvfIndexIfNeeded)") {
      val (compacted, _, _, masked) = graft.sinks.Sink
        .compactIvfIndexIfNeeded(spark, hybDir, maxMaskedIds = 500L)
      require(compacted, "masked mass over threshold must trip the fold")
      masked
    }
    valveServe("valve-folded")

    // RETENTION SWEEP receipt (r15): wall time must track DROPPED
    // PARTITION count, not corpus size — the sweep is a dir listing +
    // one pruned id scan of the doomed partitions (FIXED: 2 partitions,
    // 2000 docs) + O(batch) tombstone writes (the flat text-delete
    // receipt above) + O(dropped) metadata ops, while the registered
    // text index AND the retained raw corpus grow with the multiplier.
    val sweepRaw = new java.io.File(
      System.getProperty("java.io.tmpdir"), "sc_sweepraw").toString
    if (only.forall("retention sweep (2 fixed doomed partitions)".contains)) {
      // setup OUTSIDE the timing: the raw corpus write is mult-sized by
      // design (that is the thing the sweep must NOT scale with)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(sweepRaw))
      big.filter(col("doc_id") >= 2000 && col("doc_id") < 4000)
        .withColumn("date", concat(lit("2024-01-0"),
          (col("doc_id") % 2 + 1).cast("string")))
        .write.mode("overwrite").partitionBy("date").parquet(sweepRaw)
      big.filter(col("doc_id") < 2000 || col("doc_id") >= 4000)
        .withColumn("date", concat(lit("2024-01-0"),
          (col("doc_id") % 3 + 5).cast("string")))
        .write.mode("append").partitionBy("date").parquet(sweepRaw)
      // a compacted index (gen-N root) is perfectly usable — only build
      // when the dir is truly absent (the hybrid-serve fallback stance)
      if (!built(textIdxDir)) {
        graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
      }
    }
    time("retention sweep (2 fixed doomed partitions)") {
      graft.sinks.Sink.retentionSweep(spark, sweepRaw, "2024-01-03",
        batchId = 7L, textIndexes = Seq(textIdxDir),
        ivfIndexes = Seq(hybDir))
      1L
    }

    // SWEEP→VALVE receipt (r16): the ARCHIVAL lineage — ingest paused,
    // daily sweeps the only writer. Idle-valve sweeps must stay flat
    // across ×1/×10 (each is the O(dropped)+O(batch) sweep above PLUS a
    // listing-only valve census per root); the folding sweep is the
    // amortized O(index) maintenance rewrite the masks were buying
    // (reported, not claimed flat); the post-fold serve must match the
    // clean serve — the mask cost is GONE without any ingest thread
    // ever running.
    val archRaw = new java.io.File(
      System.getProperty("java.io.tmpdir"), "sc_archraw").toString
    // r17: the LSH family joins the archival receipt — all THREE swept
    // index families now carry ×1/×10 rows (the r16 receipt drove text
    // + IVF only; the LSH sweep→valve path was spec-pinned but
    // receipt-less). The LSH root is mult-sized like its siblings.
    val archLshDir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "sc_archlsh").toString
    if (only.forall(f => Seq(
        "sweep-valve: idle sweep day1 (1 fixed doomed partition)",
        "sweep-valve: idle sweep day2 (1 fixed doomed partition)",
        "sweep-valve: folding sweep day3 (maxBatches=1)",
        "sweep-valve: LSH serve")
      .exists(_.contains(f)))) {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(archRaw))
      // three FIXED 500-doc doomed dates + a mult-sized retained tail
      big.filter(col("doc_id") >= 4000 && col("doc_id") < 5500)
        .withColumn("date", concat(lit("2024-02-0"),
          (col("doc_id") % 3 + 1).cast("string")))
        .write.mode("overwrite").partitionBy("date").parquet(archRaw)
      big.filter(col("doc_id") >= 5500)
        .withColumn("date", lit("2024-02-09"))
        .write.mode("append").partitionBy("date").parquet(archRaw)
      if (!built(textIdxDir)) {
        graft.sinks.Sink.writeTextIndex(big, textIdxDir, buckets = 64)
      }
      if (!built(archLshDir)) {
        val lb = Similarity.buildLshIndex(bigEmb, nBits = 32, bands = 8)
        graft.sinks.Sink.writeLshIndex(lb, archLshDir)
        lb.unpersist()
      }
    }
    def archLshServe(tag: String): Unit =
      time(s"sweep-valve: LSH serve ($tag)") {
        force(Similarity.lshQueryVectors(
          graft.sinks.Sink.readLshIndex(spark, archLshDir),
          emb.filter(col("vec_id") < 3)
            .select((col("vec_id") + 9100000L).as("query_id"),
              col("embedding")),
          k = 10))
      }
    archLshServe("clean index")
    time("sweep-valve: idle sweep day1 (1 fixed doomed partition)") {
      graft.sinks.Sink.retentionSweep(spark, archRaw, "2024-02-02",
        batchId = 8L, textIndexes = Seq(textIdxDir),
        ivfIndexes = Seq(hybDir), lshIndexes = Seq(archLshDir))
      1L
    }
    time("sweep-valve: idle sweep day2 (1 fixed doomed partition)") {
      graft.sinks.Sink.retentionSweep(spark, archRaw, "2024-02-03",
        batchId = 9L, textIndexes = Seq(textIdxDir),
        ivfIndexes = Seq(hybDir), lshIndexes = Seq(archLshDir))
      1L
    }
    time("sweep-valve: folding sweep day3 (maxBatches=1)") {
      graft.sinks.Sink.retentionSweep(spark, archRaw, "2024-02-04",
        batchId = 10L, textIndexes = Seq(textIdxDir),
        ivfIndexes = Seq(hybDir), lshIndexes = Seq(archLshDir),
        maxBatches = 1L)
      1L
    }
    valveServe("post-sweep-fold")
    archLshServe("post-sweep-fold")

    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(archLshDir))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(archRaw))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(textIdxDir))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(hybDir))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(sweepRaw))

    spark.stop()
  }
}
