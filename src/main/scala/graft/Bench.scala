package graft
import org.apache.spark.sql.SparkSession
import graft.metrics.{Counters, Metrics}

/** Benchmark main. Prints ONE machine-readable JSON line (plus a short tail
  * line that survives output-tail truncation) and writes the COMPLETE
  * per-query detail to a file, so a single noisy-host window or a 4 KB
  * stdout tail can never destroy the round's evidence.
  *
  * Noise defenses (each earned by a prior round's corrupted artifact):
  *   - per-query value = MEDIAN of N forced runs (default 3,
  *     SPARK_GRAFT_BENCH_REPS to override) — one scheduler stall or
  *     noisy-neighbor window cannot poison a query's number;
  *   - the full per-run detail goes to bench_full.json
  *     (SPARK_GRAFT_BENCH_OUT to override) — all entries recoverable from
  *     the repo even when the driver keeps only the stdout tail;
  *   - the tail line names the slowest 5 queries, so the expensive end of
  *     the distribution is identifiable even from a truncated capture;
  *   - a fixed CALIBRATION probe (a data-independent in-memory aggregate
  *     over `spark.range`) is timed once per measured rep and reported as
  *     `calib` (median) + `calib_runs`: it exercises the scheduler + the
  *     codegen'd agg path but touches no parquet, so round-over-round its
  *     ratio isolates HOST-CLOCK DRIFT from plan changes — divide a
  *     query's ratio by the calib ratio before calling it a regression
  *     (the SCALING.md same-day-drift method, now automated in the
  *     artifact). `calib_min` — the MIN of the per-rep calib medians —
  *     is the cross-round normalization ANCHOR: a stall can only
  *     inflate a probe, so the min is the clean-host estimate, and the
  *     round-11 A/B/C adjudication found min-of-runs materially more
  *     stable than the median when one rep's window is noisy (calib
  *     medians spread 1.6× within a single bench while the mins agreed).
  *     Per-query MIN-of-reps is emitted alongside the median
  *     in bench_full.json: the min is the noise-floor estimate (a stall
  *     can only inflate a run), so median-up + min-down = noise,
  *     median-up + min-up = a real plan change.
  *   - every run goes through [[graft.metrics.Metrics.measure]], and each
  *     bench_full.json entry carries the median over reps of each Spark
  *     counter (jobs, stages, tasks, executor CPU ms, shuffle and spill
  *     bytes, codegen compiles and ms): counts that do not move with host
  *     load, so a verdict can rest on them where seconds cannot.
  *
  * Usage: `Bench [q1,q2,...]` measures the named queries only (same form
  * as `Verify`'s third argument) and then writes bench_subset.json unless
  * SPARK_GRAFT_BENCH_OUT is set; `Bench --against <git-rev>` runs the A/B
  * mode below. The driver calls it with no arguments.
  */
object Bench {

  /** Median of a non-empty sample; even sizes average the middle pair. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Minimal JSON string escape for the error payload. */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  // 0.1 ms precision per query keeps the full line ~40% shorter — the
  // driver's tail buffer is ~4 KB and round 4's full line overflowed it.
  def fmt(sec: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(sec))

  /** One bench_full.json entry from a query's measured runs: `median`,
    * `min`, `runs` and `err` first (the prefix [[parseBenchFullMins]]
    * reads), then the median over runs of each counter.
    */
  def entryJson(
      name: String, runs: Seq[(Double, Option[String], Counters)]): String = {
    val secs = runs.map(_._1)
    val err = runs.flatMap(_._2).headOption
      .map(e => s""","err":"${jsonEscape(e)}"""").getOrElse("")
    val counters = Counters.keys
      .zip(runs.map(_._3.fields.map(_._2.toDouble)).transpose.map(median))
      .map { case (k, v) =>
        // an even run count can put a median on a half
        s""","$k":${if (v.isWhole) v.toLong.toString else v.toString}"""
      }.mkString
    s""""$name": {"median":${fmt(median(secs))},"min":${fmt(secs.min)},""" +
      s""""runs":${secs.map(fmt).mkString("[", ",", "]")}$err$counters}"""
  }

  // ------------------------------------------------------------ A/B mode

  /** Parse per-query MIN seconds out of a bench_full.json (the format
    * this file writes — no JSON lib on the classpath, the shape is
    * ours).
    */
  def parseBenchFullMins(text: String): Map[String, Double] =
    // numeric pattern covers exponent forms too: fmt is fixed-decimal
    // today, but a silently-dropped query would skew ab_ratio with no
    // signal if that ever changed — parse what a Double can print
    """"([A-Za-z0-9_]+)": \{"median":[0-9.Ee+-]+,"min":([0-9.Ee+-]+)""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Per-query min across reps (a stall can only inflate a run). */
  def minOver(ms: Seq[Map[String, Double]], q: String): Double =
    ms.flatMap(_.get(q)).min

  /** The A/B verdict, scored purely from per-rep `{query → seconds}`
    * maps so the instrument itself is unit-testable. NOISE
    * SELF-ADJUDICATION (r15): the r14 verdict needed a hand
    * decomposition because one rep of B ran 25% hot — so alongside the
    * min-of-reps totals this carries the per-rep SHARED-QUERY sums (the
    * raw material of any decomposition), each side's rep spread
    * (max − min), and the flag: an |A − B| gap smaller than the larger
    * per-rep spread is INSIDE what one side shows against itself in the
    * same window — read the ratio as noise, not a regression.
    */
  final case class AbScore(
      shared: Seq[String], aTot: Double, bTot: Double, ratio: Double,
      aRepSums: Seq[Double], bRepSums: Seq[Double],
      aSpread: Double, bSpread: Double, gap: Double, insideNoise: Boolean,
      aJackSums: Seq[Double], bJackSums: Seq[Double],
      aJackSpread: Double, bJackSpread: Double, insideNoiseStrict: Boolean)

  def abScore(
      aMins: Seq[Map[String, Double]],
      bMins: Seq[Map[String, Double]]): AbScore = {
    val shared = aMins.flatMap(_.keySet).toSet
      .intersect(bMins.flatMap(_.keySet).toSet).toSeq.sorted
    val aTot = shared.map(minOver(aMins, _)).sum
    val bTot = shared.map(minOver(bMins, _)).sum
    val aRepSums = aMins.map(m => shared.map(m(_)).sum)
    val bRepSums = bMins.map(m => shared.map(m(_)).sum)
    val aSpread = aRepSums.max - aRepSums.min
    val bSpread = bRepSums.max - bRepSums.min
    val gap = math.abs(aTot - bTot)
    // STRICT criterion (r16): the loose flag compares the min-sum gap
    // against RAW per-rep spreads, but a min over N reps varies far
    // less than one rep does (r15: spreads ~69 s against a gap of 4 s)
    // — a genuine multi-percent regression could systematically hide
    // behind it. The jackknife spread measures the variability of the
    // min-sum STATISTIC ITSELF: leave each rep out, recompute the
    // min-sum; the spread of those totals is how much the reported
    // total depends on any single rep. A gap under the jackknife
    // spread is noise by the statistic's own stability; a gap BETWEEN
    // the strict and loose thresholds is AMBIGUOUS — both flags are
    // reported so neither adjudicates alone.
    def jackSums(ms: Seq[Map[String, Double]]): Seq[Double] =
      if (ms.size < 2) Seq.empty
      else ms.indices.map { i =>
        val rest = ms.patch(i, Nil, 1)
        shared.map(q => rest.flatMap(_.get(q))
          .minOption.getOrElse(minOver(ms, q))).sum
      }
    val aJackSums = jackSums(aMins)
    val bJackSums = jackSums(bMins)
    def spreadOf(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.max - xs.min
    val aJackSpread = spreadOf(aJackSums)
    val bJackSpread = spreadOf(bJackSums)
    AbScore(shared, aTot, bTot, aTot / bTot, aRepSums, bRepSums,
      aSpread, bSpread, gap, gap < math.max(aSpread, bSpread),
      aJackSums, bJackSums, aJackSpread, bJackSpread,
      gap < math.max(aJackSpread, bJackSpread))
  }

  /** `--against <git-rev>`: the DECISIVE cross-round perf comparison —
    * the host clock here swings up to ~2× between runs, so raw
    * round-over-round seconds (and even calib-normalized ratios, whose
    * two anchors disagreed by 2.2× in round 12) cannot detect a real
    * 1.2× regression. This mode builds `<rev>` in a git worktree and
    * INTERLEAVES B/A/B/A subprocess bench runs (each its own JVM +
    * session, reps=1, full warmup — symmetric by construction) in ONE
    * host window, then scores `ab_ratio` = Σ min-of-reps(HEAD) /
    * Σ min-of-reps(rev) over the SHARED query set. The result lands in
    * `.ab/ab_latest.json`, which normal bench runs of the same HEAD
    * embed (with provenance) into their output ([[abFields]]) — so
    * BENCH_r{N}.json carries the A/B verdict of the code it measured
    * even though the driver never passes flags.
    */
  private def runAgainst(rev: String): Unit = {
    def sh(cmd: Seq[String], cwd: String): Int = {
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(new java.io.File(cwd))
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes())
      val code = p.waitFor()
      if (code != 0) System.err.println(out.takeRight(2000))
      code
    }
    val headRev = gitHead()
    val wt = s"/tmp/graft_ab_$rev"
    if (!new java.io.File(s"$wt/build.sbt").exists()) {
      require(sh(Seq("git", "worktree", "add", "--detach", wt, rev),
        ".") == 0, s"worktree add failed for $rev")
    }
    val wtClasses = s"$wt/target/scala-2.13/classes"
    if (!new java.io.File(wtClasses + "/graft/Bench.class").exists()) {
      println(s"[ab] compiling $rev in $wt ...")
      require(sh(Seq("sbt", "-batch", "compile"), wt) == 0,
        s"sbt compile failed in $wt")
    }
    val headClasses = "target/scala-2.13/classes"
    val jdkOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def benchOnce(classes: String, out: String): Unit = {
      val cmd = Seq("java") ++ jdkOpens ++ Seq(
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", s"$classes:/opt/spark/jars/*", "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_REPS", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out)
      sys.env.get("SPARK_GRAFT_SF_DIR").foreach(
        pb.environment().put("SPARK_GRAFT_SF_DIR", _))
      sys.env.get("SPARK_GRAFT_CPUS").foreach(
        pb.environment().put("SPARK_GRAFT_CPUS", _))
      pb.redirectErrorStream(true)
      val p = pb.start()
      val outBytes = new String(p.getInputStream.readAllBytes())
      require(p.waitFor() == 0,
        s"bench subprocess failed:\n${outBytes.takeRight(2000)}")
    }
    val abReps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "2").toInt)
    val (aMins, bMins) =
      (collection.mutable.ArrayBuffer.empty[Map[String, Double]],
        collection.mutable.ArrayBuffer.empty[Map[String, Double]])
    for (r <- 1 to abReps) {
      // B first, then A, every rep — alternation keeps any slow drift
      // of the host clock symmetric across the two sides
      println(s"[ab] rep $r/$abReps: B ($rev) ...")
      benchOnce(wtClasses, s"/tmp/ab_B_$r.json")
      bMins += parseBenchFullMins(
        scala.io.Source.fromFile(s"/tmp/ab_B_$r.json").mkString)
      println(s"[ab] rep $r/$abReps: A (HEAD $headRev) ...")
      benchOnce(headClasses, s"/tmp/ab_A_$r.json")
      aMins += parseBenchFullMins(
        scala.io.Source.fromFile(s"/tmp/ab_A_$r.json").mkString)
    }
    val score = abScore(aMins.toSeq, bMins.toSeq)
    import score.{shared, aTot, bTot, ratio, aRepSums, bRepSums,
      aSpread, bSpread, gap, insideNoise,
      aJackSums, bJackSums, aJackSpread, bJackSpread, insideNoiseStrict}
    def f2(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    val perQuery = shared.map { q =>
      val r = minOver(aMins.toSeq, q) / minOver(bMins.toSeq, q)
      s""""$q":${String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(r))}"""
    }.mkString("{", ",", "}")
    new java.io.File(".ab").mkdirs()
    val json =
      s"""{
  "ab_ratio": ${String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(ratio))},
  "ab_against": "$rev",
  "ab_head": "$headRev",
  "ab_reps": $abReps,
  "shared_queries": ${shared.size},
  "a_total_minsum": ${f2(aTot)},
  "b_total_minsum": ${f2(bTot)},
  "a_rep_shared_sums": ${aRepSums.map(f2).mkString("[", ",", "]")},
  "b_rep_shared_sums": ${bRepSums.map(f2).mkString("[", ",", "]")},
  "a_rep_spread": ${f2(aSpread)},
  "b_rep_spread": ${f2(bSpread)},
  "minsum_gap": ${f2(gap)},
  "noise_verdict": "${if (insideNoise) "inside_noise" else "outside_noise"}",
  "a_jackknife_minsums": ${aJackSums.map(f2).mkString("[", ",", "]")},
  "b_jackknife_minsums": ${bJackSums.map(f2).mkString("[", ",", "]")},
  "a_jackknife_spread": ${f2(aJackSpread)},
  "b_jackknife_spread": ${f2(bJackSpread)},
  "noise_verdict_strict": "${if (insideNoiseStrict) "inside_noise"
        else "outside_noise"}",
  "per_query_ratio": $perQuery
}
"""
    java.nio.file.Files.write(java.nio.file.Paths.get(".ab/ab_latest.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"metric":"ab","ab_ratio":$ratio,"against":"$rev","head":"$headRev","shared":${shared.size},"a_minsum":$aTot,"b_minsum":$bTot,"noise_verdict":"${if (insideNoise) "inside_noise" else "outside_noise"}","noise_verdict_strict":"${if (insideNoiseStrict) "inside_noise" else "outside_noise"}"}""")
  }

  /** The short revision of the checkout's HEAD, empty outside git. */
  private def gitHead(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val r = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0) r else ""
    } catch { case _: java.io.IOException => "" }

  /** The last `--against` verdict (the text of `.ab/ab_latest.json`),
    * embedded with provenance into normal bench output — only when it
    * was measured at `benchedRev`, the revision being benched: a
    * verdict measured at another revision describes other code.
    * Short revisions match by prefix (git may widen them).
    */
  def abFields(abJson: String, benchedRev: String): String = {
    def field(name: String): Option[String] =
      (s""""$name": "?([^",\\n}]+)"?""").r.findFirstMatchIn(abJson)
        .map(_.group(1))
    (for {
      ratio <- field("ab_ratio")
      against <- field("ab_against")
      head <- field("ab_head")
      if benchedRev.nonEmpty &&
        (head.startsWith(benchedRev) || benchedRev.startsWith(head))
    } yield s""","ab_ratio":$ratio,"ab_against":"$against","ab_measured_at":"$head"""")
      .getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    args.indexOf("--against") match {
      case i if i >= 0 && i + 1 < args.length =>
        runAgainst(args(i + 1)); return
      case _ => ()
    }
    val only = args.headOption.map(_.split(",").toSeq.sorted)
    val unknown = only.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // a subset run must not overwrite the committed full artifact
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "bench_full.json" else "bench_subset.json")
    val spark = SparkSession.builder()
      .master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SORTED execution order: `queries` is a HashMap, so its iteration
    // order depends on the full key SET — two binaries that differ only
    // by added queries would otherwise run the SHARED queries in
    // different relative orders, and a query's wall time is not
    // position-independent (GC state, broadcast cleanup, code-cache).
    // The r14 A/B measured exactly that confound: movers were
    // overwhelmingly queries neither side's diff touched. Sorting makes
    // cross-binary passes order-stable for every rev from here on.
    val names = only.getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    // Warm-up pass: JIT + janino codegen + parquet footers are per-JVM
    // one-time costs that otherwise land on whichever query runs first and
    // dominate its time (measured swings of 2-10×). The measured pass below
    // reports steady-state throughput — the quantity comparable round over
    // round and to a long-lived cluster. Every run is forced through
    // `Metrics.force`, which executes the registered plan unpruned.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    names.foreach { name =>
      try Metrics.force(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => }
    }
    // Measured passes: run the FULL suite reps times (round-robin, not
    // back-to-back per query) so a single noisy-host window degrades one
    // run of many queries instead of all runs of a few — the median then
    // discards it. Per-query value = median across runs.
    // fixed calibration probe: data-independent, parquet-free — its
    // per-rep time tracks the HOST, not the engine (see header)
    def calibrateOnce(): Double = {
      val t0 = System.nanoTime()
      // shiftright keeps the sum inside Long under ANSI (16M × 2^31 ≪ 2^63)
      spark.range(16000000L)
        .selectExpr("sum(shiftright(xxhash64(id), 32))",
          "count(if(id % 7 = 0, 1, null))")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // One calibrate() per rep proved too noisy to anchor cross-round
    // normalization (r9 calib runs spanned 3.4×: a single scheduler
    // hiccup IS the sample). Per measurement point: discard one warmup
    // run, report the median of 5; the probe was also lengthened 4×
    // in round 10 (range 4M → 16M — a ~50 ms probe was mostly
    // scheduler jitter, a ~300 ms probe is mostly compute, so the
    // per-rep medians track the host clock, not the noise floor).
    // NOTE: calib VALUES are therefore not comparable to rounds ≤ 9;
    // within-round spread and cross-round RATIOS from r10 on are.
    def calibrate(): Double = {
      calibrateOnce() // warmup discard
      median((1 to 5).map(_ => calibrateOnce()))
    }
    calibrate() // warm the calib plan like everything else
    val runsByQuery = collection.mutable.LinkedHashMap(
      names.map(n =>
        n -> Vector.empty[(Double, Option[String], Counters)]): _*)
    var calibRuns = Vector.empty[Double]
    for (_ <- 1 to reps) {
      calibRuns = calibRuns :+ calibrate()
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        runsByQuery(name) = runsByQuery(name) :+
          Metrics.measure(spark) { Metrics.force(fn(spark, sfDir)) }
      }
    }
    val calibMed = median(calibRuns)
    val results = runsByQuery.toSeq.map { case (name, runs) =>
      (name, median(runs.map(_._1)), runs.flatMap(_._2).headOption)
    }
    val qs = results.map { case (k, med, _) => s"\"" + k + "\":" + fmt(med) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      s"\"" + k + "\":\"" + jsonEscape(e) + "\""
    }
    val errField =
      if (errs.isEmpty) "" else errs.mkString(",\"errors\":{", ",", "}")
    val total = results.map(_._2).sum
    // Complete evidence to a FILE (committed alongside BENCH_r{N}): every
    // query, every run, the median, and any error — immune to stdout-tail
    // truncation and auditable after a noisy run.
    // the last --against A/B verdict (see runAgainst): the PREFERRED
    // cross-round comparator — same-window interleaved, immune to the
    // host-clock drift that makes raw and calib-normalized ratios
    // ambiguous. ab_measured_at names the HEAD it was measured on,
    // which must be the HEAD benched here.
    val abFile = new java.io.File(".ab/ab_latest.json")
    val ab =
      if (!abFile.exists()) ""
      else abFields(scala.io.Source.fromFile(abFile).mkString, gitHead())
    val fileJson = {
      val entries = runsByQuery.toSeq
        .map { case (k, runs) => "    " + entryJson(k, runs) }
        .mkString(",\n")
      val abLine =
        if (ab.isEmpty) ""
        else "\n  " + ab.stripPrefix(",").split(",")
          .mkString("", ",\n  ", ",").replace(":", ": ")
      s"""{
  "metric": "total",
  "value": ${fmt(total)},
  "unit": "sec",
  "sf": "$sfDir",
  "reps": $reps,
  "nqueries": ${results.size},
  "nerrors": ${errs.size},$abLine
  "calib": ${fmt(calibMed)},
  "calib_min": ${fmt(calibRuns.min)},
  "calib_runs": ${calibRuns.map(fmt).mkString("[", ",", "]")},
  "queries": {
$entries
  }
}
"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      fileJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib":${fmt(calibMed)},"queries":$qs$errField,"sf":"$sfDir"}""")
    // The driver keeps only the TAIL of sbt output; with 90+ per-query
    // entries the leading "metric":"total" prefix of the line above can be
    // truncated away (it was in rounds 3-5). Repeat the headline numbers
    // as a short trailing line — distinct metric name so a by-metric
    // consumer cannot double-count — and name the slowest 5 queries so the
    // expensive tail of the distribution survives truncation too.
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, med, _) => s"\"" + k + "\":" + fmt(med) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_tail","value":$total,"unit":"sec","nqueries":${results.size},"nerrors":${errs.size},"reps":$reps,"calib":${fmt(calibMed)},"calib_min":${fmt(calibRuns.min)},"slowest":$slowest,"full":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
