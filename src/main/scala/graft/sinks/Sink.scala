package graft.sinks

import java.util.Properties

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import graft.schema.Catalog

/** Sink surface (operator A10 + physical design C5/C6).
  *
  * The reference writes one parameterized INSERT per record through pgx
  * (`/root/reference/internal/storage/storage.go:87-151`). Spark-side the
  * batched writers are the real sink; the INSERT builder is kept for exact
  * behavioral parity (identifier validation, sorted columns, JSON-marshaled
  * nested values, dry-run mode) and as the row-shape for a JDBC sink.
  *
  * The partitioned parquet layout is the analog of the migration's
  * hypertable + retention policy (`migrations/001_initial_schema.sql:26-35`):
  * date-partitioned files make retention a partition drop and give every
  * time-range query partition pruning for free.
  */
object Sink {

  /** Minimal JSON encoder for nested record values (storage.go:118-128
    * json.Marshal parity for the types that cross the engine: map, seq,
    * string, number, boolean, null).
    */
  def jsonEncode(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${jsonString(k.toString)}:${jsonEncode(x)}" }
        .mkString("{", ",", "}")
    case s: Seq[_] => s.map(jsonEncode).mkString("[", ",", "]")
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case d: Double =>
      // Go's json.Marshal (the parity target) errors on non-finite floats;
      // and d.toLong would silently clamp magnitudes >= 2^63
      if (d.isNaN || d.isInfinite)
        throw new IllegalArgumentException(s"non-finite double not JSON-encodable: $d")
      else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case other => other.toString
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Build the exact INSERT the reference builds (storage.go:87-151):
    * validated identifiers, sorted columns, $n placeholders, nested values
    * JSON-marshaled. Returns (sql, values-in-column-order).
    */
  def insertSql(table: String, data: Map[String, Any]): Either[String, (String, Seq[Any])] = {
    if (data.isEmpty) return Left("empty data provided")
    if (!Catalog.validIdentifier(table))
      return Left(s"invalid table name '$table': must contain only alphanumeric characters and underscores")
    val badCol = data.keys.find(!Catalog.validIdentifier(_))
    if (badCol.isDefined)
      return Left(s"invalid column name '${badCol.get}': must contain only alphanumeric characters and underscores")
    val keys = data.keys.toSeq.sorted
    val placeholders = keys.indices.map(i => s"$$${i + 1}")
    try {
      val values = keys.map { k =>
        data(k) match {
          case m: Map[_, _] => jsonEncode(m)
          case s: Seq[_]    => jsonEncode(s)
          case v            => v
        }
      }
      Right((
        s"INSERT INTO $table (${keys.mkString(", ")}) VALUES (${placeholders.mkString(", ")})",
        values))
    } catch {
      case e: IllegalArgumentException => Left(e.getMessage)
    }
  }

  /** A10 wired — the actual relational write path. The reference executes
    * one parameterized INSERT per record through a pgx pool
    * (storage.go:87-151); Spark-side the equivalent contract is
    * `df.write.jdbc`, which drives BATCHED prepared statements per
    * partition in parallel — categorically the right shape at scale (one
    * connection per partition, `batchsize` rows per round trip, no
    * driver-side loop). Identifier validation matches the reference
    * byte-for-byte ([[insertSql]] / storage.go:91-104): table and every
    * column must be `^[A-Za-z0-9_]+$` or the write refuses before any
    * connection opens.
    *
    * Tested against in-JVM embedded Derby (on Spark's default classpath);
    * the URL is dialect-agnostic — a Postgres URL hits the reference's
    * exact target.
    */
  def writeJdbc(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Append,
      properties: Properties = new Properties,
      batchSize: Int = 1000): Unit = {
    require(Catalog.validIdentifier(table),
      s"invalid table name '$table': must contain only alphanumeric characters and underscores")
    df.columns.foreach(c => require(Catalog.validIdentifier(c),
      s"invalid column name '$c': must contain only alphanumeric characters and underscores"))
    val props = new Properties()
    props.putAll(properties)
    if (!props.containsKey("batchsize"))
      props.setProperty("batchsize", batchSize.toString)
    df.write.mode(mode).jdbc(url, table, props)
  }

  /** Streaming twin: a `foreachBatch` body appending each micro-batch of a
    * routed fan-out into its JDBC table — the unbounded version of the
    * reference's worker→storage loop.
    */
  def jdbcFanOutBatch(
      url: String,
      fanOut: DataFrame => Map[String, DataFrame],
      properties: Properties = new Properties)(
      batch: DataFrame, batchId: Long): Unit =
    fanOut(batch).foreach { case (table, rows) =>
      writeJdbc(rows, url, table, SaveMode.Append, properties)
    }

  /** C6 — date-partitioned layout: the write shape that makes retention a
    * partition drop and time-range scans prune at the source.
    */
  def writePartitionedByDate(
      df: DataFrame,
      path: String,
      tsCol: String = "time",
      mode: String = "overwrite"): Unit =
    df.withColumn("date", date_format(col(tsCol), "yyyy-MM-dd"))
      .repartition(col("date"))
      .write.mode(mode).partitionBy("date").parquet(path)

  /** C6+ physical design — BUCKETED table write: pre-shuffle the fact
    * table once at write time (`bucketBy` on the join key) so every
    * subsequent equi-join or aggregation on that key runs with ZERO
    * exchange — the single biggest repeated-query win at 100 TB (pay the
    * shuffle once, amortize it over every downstream job). Requires a
    * catalog table (bucket metadata lives there), hence saveAsTable.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int = 16,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** C6+ physical design — Z-ORDERED table write: range-partition and
    * sort on the Morton z-value of `zCols`
    * ([[graft.operators.Layout.withZValue]]) so every output file is an
    * axis-aligned box in coordinate space and parquet min-max footer
    * stats prune scans filtered on ANY of the z columns — the
    * multi-column complement of [[writeBucketed]] (one join key) and
    * [[writePartitionedByDate]] (one partition axis). LayoutSpec reads
    * the files back and asserts per-file span shrinkage on every z
    * column vs a lexicographic baseline.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      bits: Int = 8,
      nFiles: Int = 32,
      mode: String = "overwrite",
      quantile: Boolean = false): Unit = {
    // quantile = equi-depth bucket boundaries (approx_percentile cuts):
    // the normalizer for heavy-tailed z columns, where min-max scaling
    // collapses most rows into a few buckets and skipping evaporates
    val z =
      if (quantile)
        graft.operators.Layout.withZValueQuantile(df, zCols, bits)
      else graft.operators.Layout.withZValue(df, zCols, bits)
    z.repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode(mode).parquet(path)
  }

  /** Resolve the LIVE root of a persisted index at `path`: the
    * generation `gen-N/` its commit log's newest `fold` entry names
    * (written by a rebuild or a compaction through
    * [[commitGeneration]]), else `path` itself (the flat layout a fresh
    * [[writeIvfIndex]] produces). The entry is written after the
    * generation, so a crash mid-fold leaves a half-written gen dir
    * invisible and the prior root live: readers never observe a torn
    * swap (a new celled table paired with an old quantizer). Fails fast
    * on a path without a commit log ([[IndexLog]]).
    */
  def resolveIndexRoot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    IndexLog.read(spark, path).root

  /** Distribution for every index build/append/compaction write:
    * AQE REBALANCE on the directory key(s). `repartition(col(dirKey))`
    * capped write tasks at the bucket/cell/band count AND serialized
    * each hot directory (a stop-word text bucket, a ballooned IVF cell)
    * into ONE task — at 100 TB a 64-bucket compaction ran ≤ 64 tasks
    * with its largest bucket single-threaded. A fixed
    * `repartition(n, dirKey, rowKey)` uncaps that but over-fragments
    * SMALL maintenance jobs (every task writes a sliver file into every
    * directory it touches — measured 4.8× on the LSH drift lifecycle at
    * sf0.1, pure file-churn). REBALANCE is the write-shaped middle:
    * AQE coalesces small partitions to the advisory size (tiny job →
    * one file per directory, the old behavior) and SPLITS skewed ones
    * (`optimizeSkewsInRebalancePartitions`, on by default) so a hot
    * directory past the advisory size fans out across tasks at scale.
    * `partitionBy` still lays out the same directories; queries are
    * unaffected either way (the read side prunes on the directory key —
    * that is the point of the layout).
    */
  private def writeDistribution(
      df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame =
    df.hint("rebalance", keys: _*)

  /** The one commit path of every generational write — the index
    * rebuilds ([[rebuildIvfIndex]], [[rebuildIvfPqIndex]]), the index
    * folds ([[compactIvfIndex]], [[compactLshIndex]],
    * [[compactTextIndex]]) and the census merges
    * ([[mergeGenerational]]): clear a torn `gen-<gen>/` a crashed
    * attempt left (its stale subdirs must not be committed with the
    * fresh layout), run `write` into the directory, append the `fold`
    * entry that commits it with the `absorbed` batch ids and the live
    * policy, then drop what it supersedes ([[dropSuperseded]]). A
    * crash before the entry leaves the prior state live and the
    * half-written generation invisible; a crash after it, before the
    * cleanup, leaves superseded layouts no reader resolves, and the
    * next commit drops them. Returns the committed directory.
    */
  private def commitGeneration(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      gen: Long,
      absorbed: Set[Long])(
      write: String => Unit): String = {
    val genDir = s"${log.rawPath}/gen-$gen"
    val p = new org.apache.hadoop.fs.Path(genDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    write(genDir)
    IndexLog.commit(spark, log, IndexLog.Fold(gen, absorbed, log.policy))
    dropSuperseded(spark, log.rawPath, gen)
    genDir
  }

  /** [[commitGeneration]] for an index fold or rebuild: the next
    * generation, absorbing every batch it folds.
    */
  private def commitFold(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot)(
      write: String => Unit): String =
    commitGeneration(spark, log, log.nextGen, log.absorbedByFold)(write)

  /** Drop everything a generation `gen` at `rawPath` supersedes, by one
    * rule: every `gen-N/` below it, committed or torn, and every child
    * that is not a generation, except the commit log `_log/`. The flat
    * layout, its incremental layers (ingested batches, tombstones) and
    * the crash-after-commit leftovers of an earlier fold all go. A
    * fresh overwrite build passes `Long.MaxValue`: it supersedes every
    * generation, and a stale tombstone surviving it would silently
    * delete fresh rows. Deleting only the immediately-previous root
    * would leak any generation orphaned by a
    * crash-after-commit-before-cleanup — invisible to readers, but on
    * disk forever. Every deletion is a recoverable no-op if repeated.
    */
  private def dropSuperseded(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      gen: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(rawPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).filter { p =>
        val name = p.getName
        if (name.startsWith("gen-"))
          name.stripPrefix("gen-").toLongOption.exists(_ < gen)
        else name != "_log"
      }.foreach(fs.delete(_, true))
  }

  /** Open an index build at `path`: read its log, then, for an
    * overwrite, drop every layout a prior lifecycle left
    * ([[dropSuperseded]]) — a stale tombstone surviving the build would
    * silently delete freshly-indexed rows, and a float-trained IVF
    * build must not inherit an exact-Lloyd layout's `qcentroids` (the
    * probe would pair new cells with the old lattice).
    */
  private def openBuild(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      mode: String,
      policy: Option[ValvePolicy]): IndexLog.Snapshot = {
    policy.foreach(requireValidPolicy(_, s"index build at $path"))
    val log = IndexLog.read(spark, path)
    if (mode == "overwrite") dropSuperseded(spark, path, Long.MaxValue)
    log
  }

  /** Commit an index build: its `build` entry starts a fresh log and
    * carries `policy`, else the policy live before the build — policy is
    * operator configuration, not data, so an overwrite build keeps it.
    */
  private def commitBuild(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      policy: Option[ValvePolicy]): Unit =
    IndexLog.commit(spark, log, IndexLog.Build(policy.orElse(log.policy)))

  /** Copy the small tables a fold does not rewrite from the old index
    * root into its new generation — those of `tables` that exist.
    */
  private def carryTables(
      spark: org.apache.spark.sql.SparkSession,
      from: String,
      to: String,
      tables: String*): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(from).getFileSystem(conf)
    tables.foreach { t =>
      val src = new org.apache.hadoop.fs.Path(s"$from/$t")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src,
          fs, new org.apache.hadoop.fs.Path(s"$to/$t"), false, conf)
    }
  }

  /** C6+ / similarity — persist an IVF index in its 100 TB layout: the
    * celled corpus written PARTITIONED BY cell id (so a query probing
    * nprobe cells touches nprobe partition directories, never the whole
    * corpus — the on-disk twin of `Similarity`'s "celled table
    * partitioned by cell" design note) plus the tiny centroid table
    * (nlist rows). This is the offline-build output a cluster job would
    * ship; [[readIvfIndex]] + `Similarity.ivfQueryPruned` are the
    * consuming query path (SimilarityIndexPersistSpec round-trips it and
    * asserts the partition pruning).
    *
    * Commit: one `build` entry in the path's commit log ([[IndexLog]]),
    * written after every table. An overwrite build first drops every
    * layout a prior lifecycle left, and its entry starts a fresh log
    * that keeps the live [[ValvePolicy]] unless `policy` replaces it.
    */
  def writeIvfIndex(
      index: graft.operators.Similarity.IvfIndex,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.celled.sparkSession
    // declare the lineage's maintenance policy at build time (see
    // [[ValvePolicy]]); None keeps any existing declaration
    val log = openBuild(spark, path, mode, policy)
    writeIvfLayout(index, path, mode)
    commitBuild(spark, log, policy)
  }

  /** The IVF tables of [[writeIvfIndex]] under `path`, uncommitted —
    * also the body of a rebuild's generation.
    */
  private def writeIvfLayout(
      index: graft.operators.Similarity.IvfIndex,
      path: String,
      mode: String): Unit = {
    val spark = index.celled.sparkSession
    import spark.implicits._
    // n-way write distribution (see writeDistribution): hot cells
    // parallelize instead of serializing into one task each
    writeDistribution(index.celled, col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/celled")
    index.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode(mode).parquet(s"$path/centroids")
    writeQuantizedCentroids(index, path, mode)
    // build-time occupancy census (nlist rows): the baseline
    // [[ivfOccupancyDrift]] compares live occupancy against — the
    // "retrain when cell balance drifts" valve needs a remembered
    // build-time balance, not a guess
    index.celled.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_build"))
      .coalesce(1).write.mode(mode).parquet(s"$path/build_census")
  }

  /** Persist the integer-lattice coarse quantizer alongside the float
    * centroids, when the build carries one (exact-Lloyd builds —
    * [[graft.operators.Similarity.buildIvfIndexExact]]): nlist rows of
    * `(cell, qcentroid array<long>)`. This is what makes the persisted
    * index's probe selection cross-engine replayable
    * (`Similarity.ivfQueryVectorsIntProbe`); float-trained indexes skip
    * it and keep their recall-audit contract.
    */
  private def writeQuantizedCentroids(
      index: graft.operators.Similarity.IvfIndex,
      path: String,
      mode: String): Unit = {
    if (index.qcents.nonEmpty) {
      val spark = index.celled.sparkSession
      import spark.implicits._
      // `space` rides on every row (one tiny table — no second meta
      // file to torn-update): the probe must quantize queries in the
      // lattice's training space (IvfIndex.qcentsSpace)
      index.qcents.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq, index.qcentsSpace) }
        .toDF("cell", "qcentroid", "space")
        .coalesce(1).write.mode(mode).parquet(s"$path/qcentroids")
    }
  }

  /** Cell-occupancy DRIFT census of a persisted IVF index: per cell, the
    * build-time row count vs the live count (celled ∪ ingested) and the
    * growth in ppm — the health metric behind the "retrain when cell
    * balance drifts" maintenance valve ([[rebuildIvfIndex]]). A skewed
    * ingest stream (new data concentrated in one region) balloons a few
    * cells; probes into those cells then scan far more than corpus/nlist
    * and the index's pruning guarantee quietly degrades. Cost: one
    * count-by-cell over the index (metadata-light — at scale, partition
    * row counts) joined to the nlist-row build census.
    */
  def ivfOccupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    ivfDrift(spark, IndexLog.read(spark, path))

  private def ivfDrift(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): DataFrame =
    occupancyDrift(spark, log.root, Seq("cell"), readIvf(spark, log).celled)

  /** The drift census body shared by [[ivfOccupancyDrift]],
    * [[lshOccupancyDrift]] and [[textOccupancyDrift]]: per `keys`
    * directory, the build-time row count persisted at
    * `root/build_census` vs the live count, and the growth in ppm.
    */
  private def occupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      keys: Seq[String],
      live: DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    spark.read.parquet(s"$root/build_census")
      .join(live.groupBy(keyCols: _*).agg(count(lit(1)).as("n_now")),
        keys, "full_outer")
      .select(keyCols ++ Seq(
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_now"), lit(0L)).as("n_now")): _*)
      .withColumn("growth_ppm", expr(
        "(n_now - n_build) * 1000000 div greatest(n_build, 1)"))
      .orderBy(keyCols: _*)
  }

  /** The maintenance valve itself: retrain + rewrite the persisted IVF
    * index when any cell's occupancy grew past `thresholdPpm` since
    * build. Below threshold this is a no-op census read. Above it:
    * the CURRENT corpus (celled ∪ ingested — unit vectors are the
    * training input, FAISS-retrain semantics) trains a fresh exact-Lloyd
    * coarse quantizer, the full index (celled + centroids + build
    * census) is written to a fresh `gen-N/` generation and COMMITTED by
    * one `fold` log entry ([[commitGeneration]]), and the ingested
    * layout is absorbed — post-rebuild drift is zero by construction
    * and cell balance reflects the live distribution. Queries with the
    * same probe budget keep their contract (nprobe of a BALANCED nlist
    * again); exhaustive-probe answers are bit-identical before/after
    * (spec-asserted — a rebuild relocates rows, never changes them).
    *
    * Crash-safety: the commit is ONE log entry, never a multi-rename
    * window, so the new celled table is never paired with the old
    * quantizer. A crash before the entry leaves the old root live and
    * the half-written gen dir invisible; a crash after it, before
    * cleanup, leaves a superseded layout that readers already ignore.
    *
    * Returns (rebuilt?, max |growth_ppm| observed before the decision).
    * The gate reads the drift census as MAGNITUDE — `|growth_ppm|` —
    * because a cell that LOST half its rows is exactly as drifted as
    * one that doubled: committed tombstones shrink the live view
    * ([[deleteFromIvfIndex]] masks it), so a heavily-swept corpus
    * trips this valve and folds its deletes physically with the
    * retrain instead of paying the broadcast mask forever. On a
    * delete-free index |growth| == growth (cells only grow), so the
    * r14-and-earlier behavior is unchanged.
    */
  def rebuildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nlist: Int = 16,
      thresholdPpm: Long = 200000L,
      iters: Int = 3): (Boolean, Long) = {
    val log = IndexLog.read(spark, path)
    val maxPpm = ivfDrift(spark, log)
      .agg(max(abs(col("growth_ppm")))).head.getLong(0)
    if (maxPpm < thresholdPpm) (false, maxPpm)
    else {
      require(!indexHasPq(spark, log.root),
        "IVF-PQ layout: use rebuildIvfPqIndex - a coarse-only rebuild " +
          "would strand the codes against stale codebooks")
      val cur = readIvf(spark, log).celled
        .select(col("vec_id"), col("unit"))
      val fresh = graft.operators.Similarity.buildIvfIndexExact(
        cur.select(col("vec_id"), col("unit").as("embedding")),
        nlist, iters)
      // carry the ORIGINAL unit arrays through by id: buildIvfIndexExact
      // re-normalizes its input, and normalize(unit) is not BITWISE unit
      // (÷ by a norm ≈ 1.0 flips last-bit doubles) — a rebuild must
      // relocate rows, never change them, or exhaustive-probe parity
      // (and every cached cosine downstream) silently drifts
      val preserved = fresh.celled.select(col("vec_id"), col("cell"))
        .join(cur, "vec_id")
        .select(col("vec_id"), col("unit"), col("cell"))
      // the rebuild read the tombstone-applied view, so deletes fold
      // physically with it, and its `fold` entry absorbs every
      // committed batch so post-rebuild replays are skipped
      commitFold(spark, log) { genDir =>
        // qcentsSpace = "unit": this quantizer trained on the stored
        // unit vectors (the raw embeddings are gone) — the persisted
        // space tag makes ivfQueryVectorsIntProbe normalize queries
        // before lattice quantization, keeping probe selection in the
        // training space
        writeIvfLayout(
          graft.operators.Similarity.IvfIndex(
            fresh.centroids, preserved, fresh.qcents, qcentsSpace = "unit"),
          genDir, "overwrite")
        fresh.unpersist()
      }
      (true, maxPpm)
    }
  }

  /** The PQ maintenance valve — [[rebuildIvfIndex]] for the persisted
    * IVF-PQ layout: when any cell's occupancy grew past `thresholdPpm`
    * since build, retrain the coarse quantizer on the current index
    * units, retrain the PQ codebooks and re-encode EVERY vector from
    * `corpus` (the source-of-truth `(vec_id, embedding)` table — PQ
    * trains on the original-embedding lattice and normalization is
    * lossy, so a codebook retrain re-reads source data, exactly what a
    * production rebuild does after heavy ingest has drifted the value
    * distribution the codebooks were trained on), and commit the full
    * rebuilt layout (celled + codes, centroids, codebooks, build
    * census) as a fresh `gen-N/` generation under one `fold` log
    * entry — same crash-safety story as [[rebuildIvfIndex]], no
    * multi-rename window.
    *
    * Post-rebuild drift is zero by construction. Exhaustive-probe +
    * full-rerank query answers are bit-identical across the rebuild
    * (spec-asserted): codes and ADC order change with the codebooks,
    * but the exact-cosine rerank over the full candidate set doesn't —
    * the unit arrays are carried through by id, never recomputed.
    *
    * `corpus` must cover every vec_id in the index (base + ingested):
    * missing rows would silently vanish in the celled ⋈ codes join, so
    * the rebuild verifies the rebuilt row count and refuses (before the
    * log entry — the half-written generation stays invisible).
    *
    * Returns (rebuilt?, max |growth_ppm| observed before the decision)
    * — magnitude, not signed growth, so delete pressure trips this
    * valve too (the [[rebuildIvfIndex]] rationale).
    */
  def rebuildIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      nlist: Int = 16,
      m: Int = 8,
      k: Int = 16,
      thresholdPpm: Long = 200000L,
      iters: Int = 3,
      pqIters: Int = 2): (Boolean, Long) = {
    // ONE census pass answers the gate AND (when it fires) the
    // rebuild's coverage contract: Σ n_now ≡ the masked celled view's
    // count — the census's live side IS that view (the r17 drift-query
    // identity, applied inside the valve in r18; the former shape
    // re-counted the index with a second full pass in the rebuild
    // branch)
    val log = IndexLog.read(spark, path)
    val gate = ivfDrift(spark, log)
      .agg(max(abs(col("growth_ppm"))),
        coalesce(sum(col("n_now")), lit(0L))).head
    val (maxPpm, nCur) = (gate.getLong(0), gate.getLong(1))
    if (maxPpm < thresholdPpm) (false, maxPpm)
    else {
      val cur = readIvf(spark, log).celled
        .select(col("vec_id"), col("unit"))
      val fresh = graft.operators.Similarity.buildIvfIndexExact(
        cur.select(col("vec_id"), col("unit").as("embedding")),
        nlist, iters)
      // original unit arrays carried through by id — see rebuildIvfIndex
      val preserved = fresh.celled.select(col("vec_id"), col("cell"))
        .join(cur, "vec_id")
        .select(col("vec_id"), col("unit"), col("cell"))
      val model = graft.operators.Similarity
        .buildPqModel(corpus, m, k, pqIters)
      // tombstones fold with the rebuild, as in [[rebuildIvfIndex]]
      commitFold(spark, log) { genDir =>
        // unit-space quantizer — see rebuildIvfIndex
        writeIvfPqLayout(
          graft.operators.Similarity.IvfIndex(
            fresh.centroids, preserved, fresh.qcents, qcentsSpace = "unit"),
          model.cents, model.codes, genDir, "overwrite")
        fresh.unpersist()
        model.unpersist()
        // the written row count from the generation's parquet footers:
        // exact and job-free, where a count observed on the write job
        // would double on a retried map stage and abort a valid rebuild
        val nNew = TinyParquet.rowCount(
          spark.sparkContext.hadoopConfiguration, s"$genDir/celled")
        require(nNew == nCur,
          s"rebuild corpus covers only $nNew of $nCur index rows - " +
            "corpus must contain every indexed vec_id (half-written " +
            "generation left uncommitted)")
      }
      (true, maxPpm)
    }
  }

  /** Incrementally ADD vectors to a persisted IVF index — the online
    * half of the build-offline/serve-online split: new `(vec_id,
    * embedding)` rows are assigned to their nearest EXISTING cell (the
    * persisted coarse quantizer is never retrained — FAISS-`add`
    * semantics) and land under `path/ingested` partitioned by
    * `(cell, batch_id)`. Queries through [[readIvfIndex]] see them
    * immediately: the ingested table unions into `celled` and carries
    * the same `cell` partition column, so probe pruning reads nprobe
    * directories of BOTH tables.
    *
    * Commit and exactly-once: the batch's `add` log entry is written
    * after its data, and readers union only batches with an entry
    * ([[IndexLog]]). A crash before the entry leaves the half-landed
    * batch invisible; the replay (a streaming restart re-running its
    * in-flight micro-batch with the same id) overwrites its own
    * `(cell, batch_id=N)` directories — the write is a DYNAMIC
    * partition overwrite — and commits it. A replay of a batch that
    * already has an entry, or that a fold absorbed, is a no-op —
    * [[graft.streaming.StreamAnnIngest]] relies on this.
    *
    * Periodic [[compactIvfIndex]] of `ingested` back into `celled` (or
    * a centroid retrain + full rebuild when cell balance drifts) is the
    * maintenance valve, same as every write-optimized index.
    *
    * SINGLE MAINTAINER: appends and maintenance on one index path must
    * not run concurrently (maintenance deletes the root an in-flight
    * append resolved) — one owner per path runs both, and a replay
    * whose batch was already compacted must only be redelivered from
    * the SAME checkpoint lineage (see [[appendTextIndex]] for the full
    * contract).
    */
  def appendIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vectors: DataFrame,
      batchId: Long): Unit = {
    val log = IndexLog.read(spark, path)
    if (log.hasAdd(batchId)) return
    val root = log.root
    // nlist tiny rows: driver-side read, no Spark job (TinyParquet — r18)
    val centroids = TinyParquet
      .readDir(spark.sparkContext.hadoopConfiguration, s"$root/centroids")
      .sortBy(TinyParquet.long(_, "cell"))
      .map(TinyParquet.doubles(_, "centroid")).toArray
    // an IVF-PQ layout carries codes on every celled row; ingested rows
    // must arrive CODED with the persisted codebooks (never retrained —
    // FAISS-`add` semantics, like the coarse quantizer above) or the
    // ADC candidate scan would meet null codes and silently mis-rank.
    // The codes ride the SAME narrow scan as the cell assignment (r17):
    // quantize + nearest-code are per-row expressions, so the former
    // assigned ⋈ pqEncode(quantized) reattachment join — an exchange
    // plus a second pass over the batch — is a carry column now,
    // value-identical (same expressions, same codebooks).
    val carry =
      if (!indexHasPq(spark, root)) Nil
      else {
        val cents = readPqCodebooks(spark, root)
        val subDim = cents(0)(0).length
        val q = transform(col("embedding"), x =>
          round((x.cast("double") + lit(graft.operators.Clustering.Shift))
            * lit(graft.operators.Clustering.Scale)).cast("long"))
        Seq(array(cents.indices.map { s =>
          graft.functions.VectorOps.vec_nearest_code(
            slice(q, s * subDim + 1, subDim),
            typedLit(cents(s).flatten.toSeq))
        }: _*).as("codes"))
      }
    val rows = graft.operators.Similarity
      .assignCells(centroids, vectors, carry)
      .withColumn("batch_id", lit(batchId))
    writeDistribution(rows, col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch_id")
      .parquet(s"$root/ingested")
    IndexLog.commit(spark, log, IndexLog.Add(batchId))
  }

  /** Does the resolved index root carry a PQ layout (codebooks + codes
    * on the celled table)?
    */
  private def indexHasPq(
      spark: org.apache.spark.sql.SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$root/pq_codebooks")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Collect the persisted PQ codebooks as `cents(sub)(code)` — tiny
    * (m·k rows of subDim longs).
    */
  private def readPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      root: String): Array[Array[Array[Long]]] = {
    // m·k tiny rows: driver-side read, no Spark job (TinyParquet — r18)
    val rows = TinyParquet
      .readDir(spark.sparkContext.hadoopConfiguration,
        s"$root/pq_codebooks")
      .map(r => (TinyParquet.int(r, "sub"), TinyParquet.int(r, "code"),
        TinyParquet.longs(r, "centroid")))
      .sortBy(t => (t._1, t._2))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val cents = Array.ofDim[Array[Long]](m, k)
    rows.foreach { case (s, j, c) => cents(s)(j) = c }
    cents
  }

  /** Fold the [[appendIvfIndex]] `ingested/` layout back into the base
    * `celled/` table — the periodic maintenance pass of the
    * write-optimized index: streamed micro-batches leave one file per
    * touched (cell, batch) directory, and at high ingest rates those
    * small files dominate probe I/O exactly like any LSM tree's L0.
    * Rewrites celled ∪ committed ingested batches, tombstones applied,
    * partitioned by cell into a fresh `gen-N/` generation, copies in
    * the tables the fold does not change (centroids, qcentroids,
    * pq_codebooks, build_census), and commits it the one way every fold
    * commits ([[commitGeneration]]): one `fold` log entry absorbing the
    * folded batch ids, then the superseded root and its incremental
    * layers drop. Queries before and after are bit-identical
    * (spec-asserted), only the file census changes. A crash before the
    * entry leaves the prior root live; a crash after it leaves
    * leftovers no reader resolves — never a root without `celled/`,
    * and never an absorbed batch served twice.
    *
    * Returns (rows compacted, ingested files folded in), the row count
    * from the new generation's parquet footers (exact under a retried
    * write stage, and job-free).
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): (Long, Long) =
    compactIvf(spark, IndexLog.read(spark, rawPath))

  private def compactIvf(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = log.root
    // a delete-only state still folds; only the clean state is a no-op
    if (!log.pending) (TinyParquet.rowCount(conf, s"$path/celled"), 0L)
    else {
      val nf = fileCount(spark, s"$path/ingested")
      val merged = readIvf(spark, log).celled
      val genDir = commitFold(spark, log) { genDir =>
        writeDistribution(merged, col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$genDir/celled")
        carryTables(spark, path, genDir,
          "centroids", "qcentroids", "pq_codebooks", "build_census")
      }
      (TinyParquet.rowCount(conf, s"$genDir/celled"), nf)
    }
  }

  /** The count of [[TinyParquet.visibleFiles]] under `dir`. */
  private def fileCount(
      spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    TinyParquet.visibleFiles(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).size.toLong
  }

  /** Per-index MAINTENANCE POLICY: the `compact*IfNeeded` thresholds,
    * persisted AT THE INDEX so every maintainer — a streaming ingest
    * writer, [[retentionSweep]], a hand-run cron — weighs the same
    * limits. Without it two maintainers of one root can silently
    * disagree on `maxMaskedIds` and the stricter one folds work the
    * looser one was still amortizing (r15 verdict). Resolution order at
    * each valve: explicit argument (≥ 0, incl. `Long.MaxValue` opt-out)
    * > persisted policy > the family's built-in default; the sentinel
    * [[Sink.UsePersistedPolicy]] (−1, every valve's default) selects
    * the persisted tier.
    */
  final case class ValvePolicy(
      maxIngestedFiles: Long,
      maxBatches: Long,
      maxMaskedIds: Long)

  /** Valve-threshold sentinel: "use the index's persisted [[ValvePolicy]]
    * if one exists, else the family built-in" (see [[ValvePolicy]]).
    */
  val UsePersistedPolicy: Long = -1L

  /** Declare `policy` for the index lineage at `rawPath`: one `policy`
    * entry in its commit log, at the RAW path (rebuilds and compactions
    * swap generations under the raw path, and the policy governs the
    * lineage, not one generation — `build` and `fold` entries carry it
    * forward). The build entry points take an optional policy, making
    * build-time the natural declaration site; calling this later
    * reconfigures the lineage in place.
    */
  def writeValvePolicy(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      policy: ValvePolicy): Unit = {
    // thresholds are counts: a negative value is never a threshold,
    // and a hand-copied −1 sentinel persisted here would make every
    // valve fold on every call with no error anywhere — reject at the
    // declaration site, and again on read for entries this writer
    // never saw
    requireValidPolicy(policy, s"writeValvePolicy($rawPath)")
    IndexLog.commit(spark, IndexLog.read(spark, rawPath),
      IndexLog.Policy(policy))
  }

  /** Shared [[ValvePolicy]] field validation — thresholds are counts,
    * never negative (see [[writeValvePolicy]]).
    */
  private[sinks] def requireValidPolicy(p: ValvePolicy, where: String): Unit =
    require(
      p.maxIngestedFiles >= 0L && p.maxBatches >= 0L &&
        p.maxMaskedIds >= 0L,
      s"$where: ValvePolicy fields must be >= 0, got " +
        s"(${p.maxIngestedFiles}, ${p.maxBatches}, ${p.maxMaskedIds}) " +
        "- a negative value is not a threshold (and -1 is the " +
        "explicit-arg sentinel, meaningless persisted)")

  /** Read the live [[ValvePolicy]] at `rawPath` from its commit log
    * (never a Spark job: the valves consult it on every micro-batch).
    * None when the lineage never declared one.
    */
  def readValvePolicy(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): Option[ValvePolicy] =
    IndexLog.read(spark, rawPath).policy

  /** Resolve one valve threshold: explicit arg > persisted policy >
    * family built-in ([[ValvePolicy]] resolution order). Only the
    * [[UsePersistedPolicy]] sentinel (−1) selects the persisted tier —
    * any other negative argument is a caller bug and rejects loudly
    * instead of silently acting as the sentinel (r16 advice).
    */
  private def resolveThreshold(
      arg: Long, persisted: Option[Long], builtIn: Long): Long = {
    require(arg >= UsePersistedPolicy,
      s"valve threshold argument must be >= 0 (a count) or the " +
        s"UsePersistedPolicy sentinel (-1), got $arg")
    if (arg >= 0L) arg else persisted.getOrElse(builtIn)
  }

  /** The hands-off maintenance valve for the IVF / IVF-PQ families under
    * INGEST AND DELETE pressure — [[compactTextIndexIfNeeded]]'s vector
    * twin, closing the r14 gap where only the text index self-maintained
    * under deletes: the automatic rebuild gates watch occupancy drift,
    * but a steady retention sweep piles up tombstone BATCHES (each one a
    * broadcast anti-join on every probe) and masked-id MASS (eventually
    * too big to broadcast at all) without ever moving a cell census —
    * nothing folded them unattended, so a daily-swept corpus paid an
    * ever-growing mask on every serve until someone hand-called
    * [[compactIvfIndex]].
    *
    * Below every threshold this is a census read ONLY (never a data
    * scan, never a write). Above any of them it folds via
    * [[compactIvfIndex]]: ingested batches merge into `celled`,
    * tombstones apply physically and their layouts drop, the `fold`
    * log entry absorbs both — probe answers are bit-identical
    * before/after (spec-asserted), only the file census and the mask
    * cost change. The batch and masked-id counts come from the commit
    * log ([[IndexLog]]), the file count from a listing.
    *
    * Thresholds target the actual failure modes: `maxIngestedFiles` /
    * `maxBatches` bound small-file probe I/O (the LSM L0 problem, same
    * as the text valve — tombstone batches count against `maxBatches`
    * too, each is a per-probe broadcast until folded); `maxMaskedIds`
    * bounds the broadcast mask's ROW mass (deletion-rate-sized by
    * design, but months of sweeps sum — fold before the broadcast
    * stops fitting).
    *
    * Returns (compacted?, ingested files seen, committed batches seen
    * (ingest + tombstone), masked ids seen).
    */
  def compactIvfIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      maxIngestedFiles: Long = UsePersistedPolicy,
      maxBatches: Long = UsePersistedPolicy,
      maxMaskedIds: Long = UsePersistedPolicy): (Boolean, Long, Long, Long) =
    ivfValve(spark, IndexLog.read(spark, rawPath),
      maxIngestedFiles, maxBatches, maxMaskedIds)

  private def ivfValve(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      maxIngestedFiles: Long,
      maxBatches: Long,
      maxMaskedIds: Long): (Boolean, Long, Long, Long) =
    vectorValve(spark, log, "ingested", 64L,
      maxIngestedFiles, maxBatches, maxMaskedIds)(compactIvf(spark, _))

  /** The body of both vector valves ([[compactIvfIndexIfNeeded]],
    * [[compactLshIndexIfNeeded]]) on one log snapshot: resolve the
    * thresholds, census the snapshot and the `ingestedLayout` files,
    * and `fold` when any threshold is passed.
    */
  private def vectorValve(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      ingestedLayout: String,
      filesBuiltIn: Long,
      maxIngestedFiles: Long,
      maxBatches: Long,
      maxMaskedIds: Long)(
      fold: IndexLog.Snapshot => Any): (Boolean, Long, Long, Long) = {
    val pol = log.policy
    val limFiles = resolveThreshold(
      maxIngestedFiles, pol.map(_.maxIngestedFiles), filesBuiltIn)
    val limBatches = resolveThreshold(maxBatches, pol.map(_.maxBatches), 16L)
    val limMasked = resolveThreshold(
      maxMaskedIds, pol.map(_.maxMaskedIds), 100000L)
    val nFiles = fileCount(spark, s"${log.root}/$ingestedLayout")
    val nBatches = (log.adds.size + log.tombstones.size).toLong
    val maskedIds = log.tombstones.map(_.nIds).sum
    val trip = nFiles > limFiles || nBatches > limBatches ||
      maskedIds > limMasked
    if (trip) fold(log)
    (trip, nFiles, nBatches, maskedIds)
  }

  /** Reload a persisted IVF index: centroids collected (nlist × dim — the
    * same literals the in-memory build broadcasts) and the celled corpus
    * as a partition-pruned parquet table (NOT cached — the point of the
    * on-disk layout is that probes read nprobe directories). Vectors
    * added after the build ([[appendIvfIndex]]) union in from the
    * `ingested` layout with their cell partition column intact, so the
    * probe's static `cell IN (...)` predicate prunes both tables.
    */
  def readIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): graft.operators.Similarity.IvfIndex =
    readIvf(spark, IndexLog.read(spark, rawPath))

  private def readIvf(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): graft.operators.Similarity.IvfIndex = {
    val path = log.root
    val hconf = spark.sparkContext.hadoopConfiguration
    // centroid tables are nlist tiny rows: driver-side reads, no Spark
    // jobs (TinyParquet — r18; the former orderBy(cell).collect()
    // becomes a driver sortBy on the same key)
    val centroids = TinyParquet.readDir(hconf, s"$path/centroids")
      .sortBy(TinyParquet.long(_, "cell"))
      .map(TinyParquet.doubles(_, "centroid")).toArray
    // exact-Lloyd builds persist their integer-lattice quantizer too
    // (nlist tiny rows) — reload it so the replayable probe
    // (Similarity.ivfQueryVectorsIntProbe) works against the on-disk
    // layout; float-trained layouts simply don't have the table
    val qcRows = TinyParquet.readDir(hconf, s"$path/qcentroids")
      .sortBy(TinyParquet.long(_, "cell"))
    val (qcents, qcSpace) =
      if (qcRows.isEmpty) (Array.empty[Array[Long]], "raw")
      else
        (qcRows.map(TinyParquet.longs(_, "qcentroid")).toArray,
          TinyParquet.string(qcRows.head, "space"))
    val celled = spark.read.parquet(s"$path/celled")
      .withColumn("row_batch", lit(-1L))
    // declared schema: the partition columns must come back as exactly
    // (cell INT, batch_id BIGINT) or a silent cast on the probe
    // predicate could defeat directory pruning; a PQ layout's ingested
    // rows additionally carry their codes
    val all = withAdds(celled, log)(spark.read
      .schema("vec_id BIGINT, unit ARRAY<DOUBLE>, " +
        (if (indexHasPq(spark, path)) "codes ARRAY<INT>, " else "") +
        "cell INT, batch_id BIGINT")
      .parquet(s"$path/ingested"))
    // committed tombstones ([[deleteFromIvfIndex]]) mask the whole view
    // — every probe path (batch/serving/streaming/ADC) stops returning
    // deleted vectors immediately; rebuilds and [[compactIvfIndex]]
    // fold them physically
    val live = maskTombstones(spark, log, "vec_id")(all)
    graft.operators.Similarity.IvfIndex(centroids, live, qcents, qcSpace)
  }

  /** `base` (base-layout rows, `row_batch` −1) unioned with the rows of
    * `ingested` whose batch has an `add` entry in `log`, their batch id
    * as `row_batch` — the key of the batch-scoped tombstone mask
    * ([[maskTombstones]]). The batch-id IN-list on the partition column
    * prunes uncommitted batch directories; `ingested` is not read at
    * all while no batch is committed.
    */
  private def withAdds(base: DataFrame, log: IndexLog.Snapshot)(
      ingested: => DataFrame): DataFrame =
    if (log.adds.isEmpty) base
    else base.unionByName(
      ingested.filter(col("batch_id").isin(log.adds.map(_.batch): _*))
        .withColumnRenamed("batch_id", "row_batch"),
      allowMissingColumns = true)

  /** C6+ / similarity — persist the IVF-PQ index (the full FAISS-style
    * billion-scale layout on disk): the celled corpus with its PQ CODES
    * column alongside, partitioned by cell — so a probe (a) touches
    * nprobe directories (partition pruning) and (b) its ADC candidate
    * scan reads `(vec_id, codes)` ONLY (parquet column pruning: the
    * full-width `unit` vectors never leave disk except for the rerank
    * shortlist; SimilarityIndexPersistSpec asserts both prunings on the
    * plan) — plus the coarse centroids and the per-subspace PQ codebooks
    * (m·k rows). [[readIvfPqIndex]] + `Similarity.ivfPqQueryPruned` are
    * the consuming path. Committed like [[writeIvfIndex]].
    */
  def writeIvfPqIndex(
      index: graft.operators.Similarity.IvfIndex,
      pqCents: Array[Array[Array[Long]]],
      codes: DataFrame,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.celled.sparkSession
    val log = openBuild(spark, path, mode, policy) // see writeIvfIndex
    writeIvfPqLayout(index, pqCents, codes, path, mode)
    commitBuild(spark, log, policy)
  }

  /** The IVF-PQ tables of [[writeIvfPqIndex]] under `path`,
    * uncommitted — also the body of a PQ rebuild's generation.
    */
  private def writeIvfPqLayout(
      index: graft.operators.Similarity.IvfIndex,
      pqCents: Array[Array[Array[Long]]],
      codes: DataFrame,
      path: String,
      mode: String): Unit = {
    val spark = index.celled.sparkSession
    import spark.implicits._
    writeDistribution(
      index.celled.join(codes, "vec_id")
        .select(col("vec_id"), col("unit"), col("codes"), col("cell")),
      col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/celled")
    index.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode(mode).parquet(s"$path/centroids")
    writeQuantizedCentroids(index, path, mode)
    (for (s <- pqCents.indices; j <- pqCents(s).indices)
      yield (s, j, pqCents(s)(j).toSeq))
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode(mode).parquet(s"$path/pq_codebooks")
    // build-time occupancy census, the [[writeIvfIndex]] twin — the
    // baseline the PQ drift valve ([[rebuildIvfPqIndex]]) measures from
    index.celled.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_build"))
      .coalesce(1).write.mode(mode).parquet(s"$path/build_census")
  }

  /** Reload a persisted IVF-PQ index: `(IvfIndex with codes on the celled
    * table, pq codebooks as cents(sub)(code))`.
    */
  def readIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String)
      : (graft.operators.Similarity.IvfIndex, Array[Array[Array[Long]]]) = {
    val log = IndexLog.read(spark, path)
    (readIvf(spark, log), readPqCodebooks(spark, log.root))
  }

  /** C6+ / similarity — persist an SRP-LSH index in its 100 TB layout
    * (the [[writeIvfIndex]] twin): the signed corpus `(vec_id, unit,
    * sig)` as ONE plain table (the rerank side — no band inflation; this
    * is the "bucketed by a band key, not bands× rows" stance of
    * `Similarity.LshIndex`, kept for the vectors), plus a POSTINGS table
    * `(vec_id)` PARTITIONED BY `(band, bucket)` — per-band hash tables
    * hold 8-byte postings, the standard disk shape of an LSH index, so
    * the bands× inflation costs ids only and a probe reads just its
    * bucket directories. Hyperplanes + band count ride along as tiny
    * metadata. `Similarity.lshQueryPruned` is the consuming query path
    * (SimilarityIndexPersistSpec round-trips it and asserts the
    * partition pruning). Committed like [[writeIvfIndex]].
    */
  def writeLshIndex(
      index: graft.operators.Similarity.LshIndex,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.signed.sparkSession
    import spark.implicits._
    val log = openBuild(spark, path, mode, policy) // see writeIvfIndex
    val bitsPerBand = index.bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    // ALL signed columns persist — an index built with carryCols keeps
    // its carried metadata across the round-trip
    index.signed
      .write.mode(mode).parquet(s"$path/signed")
    def bandBucket(b: Int) =
      shiftright(col("sig"), b * bitsPerBand).bitwiseAND(mask)
    index.signed
      .select(col("vec_id"),
        posexplode(array((0 until index.bands).map(bandBucket): _*))
          .as(Seq("band", "bucket")))
      // n-way write distribution (see writeDistribution)
      .transform(writeDistribution(_, col("band"), col("bucket")))
      .write.mode(mode).partitionBy("band", "bucket")
      .parquet(s"$path/postings")
    index.planes.toSeq.zipWithIndex
      .map { case (p, i) => (i, p.toSeq) }
      .toDF("bit", "plane")
      .coalesce(1).write.mode(mode).parquet(s"$path/planes")
    Seq(index.bands).toDF("bands")
      .coalesce(1).write.mode(mode).parquet(s"$path/meta")
    // build-time bucket-occupancy census (≤ bands × 2^bitsPerBand rows)
    // — the baseline [[lshOccupancyDrift]] measures bucket-balance
    // drift from: a skewed ingest stream piles postings into the few
    // buckets its region hashes to, and probes into those buckets scan
    // far past corpus/buckets. Counted off the JUST-WRITTEN postings
    // table (8-byte id rows, partition columns from directory names) —
    // not a second bands-wide posexplode + shuffle over the signed
    // corpus, which would double the build's explode cost for a
    // census of at most bands × 2^bitsPerBand rows
    spark.read
      .schema("vec_id BIGINT, band INT, bucket BIGINT")
      .parquet(s"$path/postings")
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_build"))
      .coalesce(1).write.mode(mode).parquet(s"$path/build_census")
    commitBuild(spark, log, policy)
  }

  /** Bucket-occupancy DRIFT census of a persisted LSH index — the
    * [[ivfOccupancyDrift]] twin: per (band, bucket), build-time posting
    * count vs live count (postings ∪ postings_ingested) and growth in
    * ppm. SRP bucket skew is intrinsic to data concentration (clones of
    * one vector share ALL its band buckets), so this census is the
    * health metric that tells an operator the probe-cost contract is
    * degrading; the remedy differs from IVF (wider banding / index
    * resharding rather than a quantizer retrain — resampling hyperplanes
    * cannot unskew concentrated data), which is why the census is the
    * first-class valve here.
    */
  def lshOccupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val log = IndexLog.read(spark, path)
    occupancyDrift(spark, log.root, Seq("band", "bucket"),
      readLsh(spark, log).postings)
  }

  /** Incrementally ADD vectors to a persisted LSH index — the
    * [[appendIvfIndex]] twin: new `(vec_id, embedding)` rows are signed
    * with the PERSISTED hyperplanes (the hash family is never resampled —
    * a resample would strand every existing posting), their signed rows
    * land under `path/signed_ingested` partitioned by `batch_id`, and
    * their band postings under `path/postings_ingested` partitioned by
    * `(band, bucket, batch_id)`. Queries through [[readLshIndex]] see
    * them immediately: both ingested tables union in with their
    * partition columns intact, so the probe's static `(band, bucket)`
    * predicate prunes the ingested postings directories exactly like the
    * base ones.
    *
    * Commit and exactly-once as on the IVF ingest path: the `add` log
    * entry lands after BOTH writes, so a crash between them leaves the
    * batch invisible and unfolded, and its replay overwrites its own
    * directories (dynamic partition overwrites keyed on `batch_id`) and
    * commits it; a replay of a committed or absorbed batch is a no-op —
    * [[graft.streaming.StreamLshIngest]] relies on this.
    * Single-maintainer assumption as documented on
    * [[appendIvfIndex]]/[[appendTextIndex]].
    */
  def appendLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vectors: DataFrame,
      batchId: Long): Unit = {
    import graft.operators.Similarity
    val log = IndexLog.read(spark, path)
    if (log.hasAdd(batchId)) return
    val root = log.root
    val (planes, bands) = readLshPlanes(spark, root)
    val bitsPerBand = planes.length / bands
    val mask = (1L << bitsPerBand) - 1
    val signed = vectors
      .select(col("vec_id"),
        Similarity.normalized(col("embedding")).as("unit"))
      .withColumn("sig", Similarity.srpSignature(col("unit"), planes))
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint(true) // sign ONCE; feeds both writes below
    signed
      .repartition(1) // batch-sized: one file per batch directory
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$root/signed_ingested")
    def bandBucket(b: Int) =
      shiftright(col("sig"), b * bitsPerBand).bitwiseAND(mask)
    signed
      .select(col("vec_id"), col("batch_id"),
        posexplode(array((0 until bands).map(bandBucket): _*))
          .as(Seq("band", "bucket")))
      // n-way write distribution (see writeDistribution)
      .transform(writeDistribution(_, col("band"), col("bucket")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("band", "bucket", "batch_id")
      .parquet(s"$root/postings_ingested")
    IndexLog.commit(spark, log, IndexLog.Add(batchId))
  }

  /** Fold the [[appendLshIndex]] ingested layouts back into the base
    * `signed/` and `postings/` tables — the [[compactIvfIndex]] twin:
    * streamed micro-batches leave one file per touched (band, bucket,
    * batch) directory and those small files dominate probe I/O at high
    * ingest rates. Rewrites signed ∪ signed_ingested and postings ∪
    * postings_ingested (committed batches only), tombstones applied,
    * into a fresh `gen-N/` generation, copies in the tables the fold
    * does not change (planes, meta, build_census), and commits it
    * through [[commitGeneration]], exactly as [[compactIvfIndex]] does
    * — queries before and after are bit-identical (spec-asserted), only
    * the file census changes.
    *
    * Returns (signed rows after compaction, from the new generation's
    * parquet footers; ingested posting files folded in).
    */
  def compactLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) =
    compactLsh(spark, IndexLog.read(spark, path))

  private def compactLsh(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = log.root
    if (!log.pending) (TinyParquet.rowCount(conf, s"$root/signed"), 0L)
    else {
      val nf = fileCount(spark, s"$root/postings_ingested")
      val merged = readLsh(spark, log)
      val genDir = commitFold(spark, log) { genDir =>
        merged.signed.write.mode("overwrite").parquet(s"$genDir/signed")
        writeDistribution(merged.postings, col("band"), col("bucket"))
          .write.mode("overwrite").partitionBy("band", "bucket")
          .parquet(s"$genDir/postings")
        carryTables(spark, root, genDir, "planes", "meta", "build_census")
      }
      (TinyParquet.rowCount(conf, s"$genDir/signed"), nf)
    }
  }

  /** [[compactIvfIndexIfNeeded]] for the LSH family — the third and
    * last vector valve, so ALL FOUR index families now self-maintain
    * under ingest AND delete pressure (text: compaction valve; IVF /
    * IVF-PQ: drift rebuild + this valve's IVF twin; LSH: this).
    * Below every threshold: a census read only. Above any:
    * [[compactLshIndex]] folds ingested batches into `signed`/`postings`
    * and applies tombstones physically — probe answers bit-identical
    * before/after.
    * Thresholds as on the IVF valve — EXCEPT the file default: one LSH
    * append legitimately touches up to bands × 2^bitsPerBand posting
    * directories (the posexplode fans every vector into all its band
    * buckets), so a 64-file bound would fold after every single batch —
    * an O(index) rewrite per micro-batch. 1024 ≈ 8 batches of the
    * default 8-band × 16-bucket layout; `maxBatches` is the sharper LSH
    * gate. Tombstone batches count against `maxBatches`, masked-id mass
    * against `maxMaskedIds` (each delete batch is TWO broadcast masks
    * here — postings and the signed rerank side — until folded).
    *
    * Returns (compacted?, ingested posting files seen, committed
    * batches seen (ingest + tombstone), masked ids seen).
    */
  def compactLshIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxIngestedFiles: Long = UsePersistedPolicy,
      maxBatches: Long = UsePersistedPolicy,
      maxMaskedIds: Long = UsePersistedPolicy): (Boolean, Long, Long, Long) =
    lshValve(spark, IndexLog.read(spark, path),
      maxIngestedFiles, maxBatches, maxMaskedIds)

  private def lshValve(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      maxIngestedFiles: Long,
      maxBatches: Long,
      maxMaskedIds: Long): (Boolean, Long, Long, Long) =
    vectorValve(spark, log, "postings_ingested", 1024L,
      maxIngestedFiles, maxBatches, maxMaskedIds)(compactLsh(spark, _))

  /** Reload a persisted LSH index: planes + band count collected (tiny),
    * signed corpus and postings as parquet tables (NOT cached — probes
    * are meant to read only their pruned bucket directories). The
    * postings schema is DECLARED, not inferred, so the partition columns
    * come back as exactly (band INT, bucket BIGINT) and
    * `lshQueryPruned`'s static probe predicate matches them type-exactly
    * — a type-mismatched cast on a partition column can silently defeat
    * directory pruning.
    */
  def readLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): graft.operators.Similarity.PersistedLshIndex =
    readLsh(spark, IndexLog.read(spark, path))

  private def readLsh(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): graft.operators.Similarity.PersistedLshIndex = {
    val root = log.root
    val (planes, bands) = readLshPlanes(spark, root)
    // vectors added after the build ([[appendLshIndex]]) union in from
    // the ingested layouts, committed batches only; declared schemas
    // keep the partition columns type-exact so static probe predicates
    // still prune directories
    val signed = withAdds(spark.read.parquet(s"$root/signed")
      .withColumn("row_batch", lit(-1L)), log)(spark.read
      .schema("vec_id BIGINT, unit ARRAY<DOUBLE>, sig BIGINT, batch_id BIGINT")
      .parquet(s"$root/signed_ingested"))
    val postings = withAdds(spark.read
      .schema("vec_id BIGINT, band INT, bucket BIGINT")
      .parquet(s"$root/postings")
      .withColumn("row_batch", lit(-1L)), log)(spark.read
      .schema("vec_id BIGINT, band INT, bucket BIGINT, batch_id BIGINT")
      .parquet(s"$root/postings_ingested"))
    // committed tombstones ([[deleteFromLshIndex]]) mask BOTH sides:
    // postings (probes stop surfacing the ids) AND signed (the rerank
    // must not resurrect them)
    val liveSigned = maskTombstones(spark, log, "vec_id")(signed)
    val livePostings = maskTombstones(spark, log, "vec_id")(postings)
    graft.operators.Similarity.PersistedLshIndex(
      planes, bands, liveSigned, livePostings)
  }

  /** The persisted hyperplanes (nBits tiny rows) and band count
    * (one-row meta) of the LSH index at a resolved `root`: driver-side
    * reads, no Spark jobs (TinyParquet — r18).
    */
  private def readLshPlanes(
      spark: org.apache.spark.sql.SparkSession,
      root: String): (Array[Array[Double]], Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val planes = TinyParquet.readDir(conf, s"$root/planes")
      .sortBy(TinyParquet.long(_, "bit"))
      .map(TinyParquet.doubles(_, "plane")).toArray
    (planes, TinyParquet.int(TinyParquet.readDir(conf, s"$root/meta").head,
      "bands"))
  }

  /** C6+ / text — persist an INVERTED INDEX in its 100 TB layout (the
    * [[writeIvfIndex]] of the text-retrieval leg, and the standing
    * postings table `TextAnalysis.searchTopK`'s scaladoc promises):
    * postings `(token, doc_id, tf, dl, positions)` PARTITIONED BY
    * `bucket = pmod(xxhash64(token), buckets)` — a term lookup reads its
    * probed bucket directories only, never the corpus; `dl` (doc
    * length) rides DENORMALIZED on every posting (the Lucene-norms
    * trick — BM25's length normalization needs dl per matched row, and
    * 8 bytes per posting beats a corpus-sized doc-length join at query
    * time); `positions` is the sorted 0-based token-position array
    * (the Lucene positional-postings payload — phrase / proximity
    * queries need it, [[graft.operators.TextAnalysis.phraseTopK]]) and
    * is READ LAZILY: it lives in its own parquet column, so BM25's
    * probe — which never selects it — pays zero bytes for it (column
    * pruning, receipt in TextIndexSpec); corpus constants `(n_docs,
    * total_tokens)` land in a 1-row meta table. Bucket count bounds the
    * directory fan-out (vs partition-by-token's unbounded millions)
    * while a B-term query still prunes to ≤ B directories. Committed
    * like [[writeIvfIndex]].
    */
  def writeTextIndex(
      docs: DataFrame,
      path: String,
      buckets: Int = 64,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = graft.operators.TextAnalysis.docTermPostings(docs)
      .localCheckpoint(true) // one tokenize pass feeds postings AND meta
    val dl = counts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // the (doc_id, dl) SIDECAR rows, doc-id-bucketed: what makes
    // [[deleteFromTextIndex]]'s corpus-constant contribution
    // O(deletion-batch) instead of a postings scan (doc_id is not the
    // postings layout key). LEFT join: zero-token docs get dl = 0 —
    // they count in n_docs, so a delete must adjust N for them too.
    // Pinned ONCE (docs-sized): this one pass over `docs` feeds the
    // sidecar write AND the meta constants below — n_docs is its row
    // count and total_tokens its dl sum, so neither needs another scan
    // of the input (the pre-r15 shape paid a docs.count() job plus a
    // second docs scan inside the sidecar join).
    //
    // DURABILITY STANCE for the ingest-path localCheckpoint(true):
    // eager and LOCAL (executor block store), so lineage is discarded —
    // on a real cluster an executor lost between this pin and its
    // second consumer fails the BUILD JOB unrecoverably instead of
    // recomputing, and the caller retries the whole build (idempotent:
    // overwrite mode). That is the deliberate trade on the ingest side:
    // a build is minutes and retryable, while a reliable checkpoint
    // (`spark.sparkContext.setCheckpointDir` + Dataset.checkpoint)
    // writes the pinned rows to the cluster FS on EVERY build/append —
    // a standing I/O tax to insure a rare, cheap-to-retry failure. A
    // deployment whose builds are too long to retry should swap these
    // sites to reliable checkpoints; the SERVING-side pins (bounded
    // request/winner rows) stay local unconditionally — losing one
    // fails a single serving batch the stream replays anyway.
    val docStats = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(dl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dl"), lit(0L)).as("dl"),
        pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")
          .as("dbucket"))
      .localCheckpoint(true)
    val (nDocs, totalTokens) = {
      // the id-uniqueness contract, asserted on the same pinned pass
      // (countDistinct rides the agg already paid for): duplicate
      // doc_id rows would double-count their dl into T and their row
      // into N — BM25 constants silently skewed — and collide in the
      // sidecar the delete path joins. Checked BEFORE the destructive
      // overwrite clear below (r17 — pre-r17 a rejected duplicate-
      // bearing input had already cleared the generations and torn the
      // pre-existing index at this path; now a rejected build leaves
      // the prior index fully servable). Null ids get their own
      // message: count(col) vs count(*) splits the two defects a bare
      // countDistinct comparison conflated.
      val r = docStats
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)),
          countDistinct(col("doc_id")), count(col("doc_id"))).head
      require(r.getLong(0) == r.getLong(3),
        s"writeTextIndex: input carries null doc_id rows " +
          s"(${r.getLong(0) - r.getLong(3)} of ${r.getLong(0)} rows) - " +
          "the index keys docs by id; assign non-null ids")
      require(r.getLong(0) == r.getLong(2),
        s"writeTextIndex: input carries duplicate doc_id rows " +
          s"(${r.getLong(0)} rows, ${r.getLong(2)} distinct ids) - " +
          "the index keys docs by id; dedupe before building")
      (r.getLong(0), r.getLong(1))
    }
    // a fresh build supersedes every generation and every layer a
    // prior lifecycle left at this path ([[openBuild]]). This runs only
    // AFTER the input is pinned and its contract checks passed: every
    // read of `docs` (which may even derive from this index) and every
    // `require` above precedes the first destructive action.
    val log = openBuild(spark, path, mode, policy) // see writeIvfIndex
    counts
      // dl from the PINNED sidecar rows rather than a second
      // groupBy(doc_id) aggregate over counts (r17): docStats carries
      // exactly dl per doc (zero-token docs never reach counts, so the
      // inner join preserves every posting row) — one shuffle instead
      // of two feeding the postings write
      .join(docStats.select(col("doc_id"), col("dl")), "doc_id")
      .withColumn("bucket",
        pmod(xxhash64(col("token")), lit(buckets)).cast("int"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("bucket"))
      // n-way write distribution (see writeDistribution): a stop-word
      // bucket parallelizes across tasks instead of serializing in one
      .transform(writeDistribution(_, col("bucket")))
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/postings")
    Seq((nDocs, totalTokens, buckets))
      .toDF("n_docs", "total_tokens", "buckets")
      .coalesce(1).write.mode(mode).parquet(s"$path/meta")
    writeDistribution(docStats, col("dbucket"))
      .write.mode(mode).partitionBy("dbucket").parquet(s"$path/doc_stats")
    // build-time bucket-occupancy census (≤ buckets rows) — the
    // baseline [[textOccupancyDrift]] measures from, the
    // [[writeLshIndex]] build_census twin: a skewed ingest stream (one
    // hot token family) piles postings into few bucket directories and
    // term probes into them scan far past postings/buckets. Counted
    // off the PINNED counts pass (one row per posting, same bucket
    // expression as the write above — identical occupancy, no
    // re-tokenize AND no read-back of the just-written table; r17)
    counts
      .groupBy(pmod(xxhash64(col("token")), lit(buckets)).cast("int")
        .as("bucket"))
      .agg(count(lit(1)).as("n_build"))
      .coalesce(1).write.mode(mode).parquet(s"$path/build_census")
    commitBuild(spark, log, policy)
  }

  /** Bucket-occupancy DRIFT census of a persisted text index — the
    * [[lshOccupancyDrift]] twin completing the census symmetry across
    * all four index families: per bucket, build-time posting count vs
    * live count (postings ∪ committed ingested batches) and growth in
    * ppm. Like SRP buckets, text-bucket skew is intrinsic to the DATA
    * (a hot token family hashes where it hashes — re-bucketing cannot
    * spread one token's postings), so this census is the health metric
    * telling an operator the probe-cost contract is degrading; the
    * remedies are compaction ([[compactTextIndexIfNeeded]] bounds the
    * FILE side) and raising the bucket count at the next rebuild (the
    * DIRECTORY side).
    */
  def textOccupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): DataFrame = {
    val log = IndexLog.read(spark, rawPath)
    occupancyDrift(spark, log.root, Seq("bucket"), readText(spark, log).postings)
  }

  /** The base postings of the text index at `root`, schema declared so
    * the partition column comes back type-exact.
    */
  private def readTextPostings(
      spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    spark.read
      .schema("token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
        "positions ARRAY<INT>, bucket INT")
      .parquet(s"$root/postings")

  /** Incrementally ADD documents to a persisted inverted index — the
    * [[appendIvfIndex]] of the text leg: NEW docs (ids not currently
    * VISIBLE — either never indexed, or tombstoned by an earlier
    * [[deleteFromTextIndex]] batch, in which case this append
    * RESURRECTS the id: the batch-scoped mask keeps rows with
    * `row_batch > tomb_batch`, so re-add = delete → append, no
    * compaction needed) tokenize into postings
    * under `path/postings_ingested` partitioned by `(bucket, batch_id)`
    * and their corpus constants into the batch's `add` log entry;
    * queries through [[readTextIndex]] see them immediately (both
    * layouts union in, N and T sum across base + batches, and df is
    * counted on the unioned matched postings — so incremental state is
    * SEMANTICALLY IDENTICAL to a full rebuild over the union, which is
    * what the oracle pins).
    *
    * Crash-safety: the `add` entry ([[IndexLog]]) is written LAST and
    * IS the commit — [[readTextIndex]] only unions posting batches that
    * have one, so a crash before it leaves the half-landed batch
    * INVISIBLE instead of unioning postings whose corpus constants were
    * never counted; the replay overwrites its own directories (dynamic
    * partition overwrites keyed on `batch_id`) and commits it.
    *
    * Exactly-once: a replay of a batch the log already holds, or that
    * [[compactTextIndex]] folded into the base postings (a restart from
    * a checkpoint older than the compaction), is SKIPPED — re-adding
    * it would double-count its docs into N/T/df. This assumes one logical
    * ingest stream per index path with monotone batch ids (exactly
    * Spark's foreachBatch checkpoint contract); pointing a FRESH
    * checkpoint (ids restarting at 0) at a compacted index requires a
    * new index path.
    *
    * SINGLE MAINTAINER: appends and maintenance (compaction/rebuild)
    * on one index path must not run concurrently — maintenance deletes
    * the root an in-flight append resolved, so a concurrent append's
    * batch can land in (and vanish with) a superseded root. One owner
    * per index path — the streaming query's foreachBatch thread — runs
    * both, exactly how [[graft.streaming.StreamTextIngest]] drives it;
    * same assumption on the IVF/LSH append+maintenance pairs.
    */
  def appendTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      docs: DataFrame,
      batchId: Long): Unit = {
    val log = IndexLog.read(spark, rawPath)
    if (log.hasAdd(batchId)) return
    val path = log.root
    // one-row meta: driver-side read, no Spark job (TinyParquet — r18)
    val buckets = TinyParquet.int(
      TinyParquet.readDir(spark.sparkContext.hadoopConfiguration,
        s"$path/meta").head, "buckets")
    val counts = graft.operators.TextAnalysis.docTermPostings(docs)
      .localCheckpoint(true)
    val dl = counts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // the batch's doc-stats sidecar rows (see [[writeTextIndex]]) —
    // before the log entry, same torn-batch invisibility; LEFT
    // join so zero-token docs carry dl = 0. Pinned ONCE (batch-sized):
    // this one pass over the batch feeds the sidecar write, the
    // log entry's corpus constants (n_docs = its row count,
    // total_tokens = its dl sum) AND the postings write's dl column
    // (r17 — the postings join previously re-ran the dl aggregate) —
    // the pre-r15 shape paid a separate docs scan for the sidecar
    // join and ANOTHER for docs.count(), the append-path cost the r14
    // A/B flagged on text_bm25_incremental.
    // The localCheckpoint(true) durability stance is writeTextIndex's:
    // local pin, executor loss = retry the append (idempotent — the
    // log entry lands last)
    val docStats = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(dl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dl"), lit(0L)).as("dl"),
        pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")
          .as("dbucket"),
        lit(batchId).as("batch_id"))
      .localCheckpoint(true)
    val constants = docStats
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)),
        countDistinct(col("doc_id")), count(col("doc_id"))).head
    // id-uniqueness within the batch, asserted on the pinned pass (the
    // writeTextIndex contract) BEFORE ANY write (r17 — previously the
    // postings landed first and a rejection left them torn-but-
    // invisible; now a rejected batch leaves zero new files): a
    // duplicated doc_id would double-count dl into this batch's corpus
    // constants. Cross-batch re-adds are fine — that is the
    // delete→re-append lifecycle. Null ids get their own message
    // (count(col) vs count(*), the writeTextIndex r17 split).
    require(constants.getLong(0) == constants.getLong(3),
      s"appendTextIndex: batch $batchId carries null doc_id rows " +
        s"(${constants.getLong(0) - constants.getLong(3)} of " +
        s"${constants.getLong(0)} rows) - assign non-null ids")
    require(constants.getLong(0) == constants.getLong(2),
      s"appendTextIndex: batch $batchId carries duplicate doc_id rows " +
        s"(${constants.getLong(0)} rows, ${constants.getLong(2)} " +
        "distinct ids) - dedupe the batch before appending")
    counts
      .join(docStats.select(col("doc_id"), col("dl")), "doc_id")
      .withColumn("bucket",
        pmod(xxhash64(col("token")), lit(buckets)).cast("int"))
      .withColumn("batch_id", lit(batchId))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("bucket"), col("batch_id"))
      .transform(writeDistribution(_, col("bucket")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id")
      .parquet(s"$path/postings_ingested")
    docStats
      .coalesce(1) // batch-sized: one file per batch directory
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$path/doc_stats_ingested")
    IndexLog.commit(spark, log,
      IndexLog.Add(batchId, constants.getLong(0), constants.getLong(1)))
  }

  // ============================================== document/vector DELETE

  /** Apply the committed tombstones of `log` to a layered table whose
    * rows carry `row_batch` (−1 for base-layout rows, the ingest batch
    * id for incremental rows), and drop the bookkeeping column. The
    * deleted-id table is `(idCol, tomb_batch = max committed tombstone
    * batch per id)`, restricted to batches with a `tombstone` entry; a
    * row survives iff no tombstone masks it — `row_batch > tomb_batch`.
    *
    * `tomb_batch` is what makes deletes BATCH-SCOPED rather than
    * terminal: a tombstone at batch K masks only rows from batches ≤ K
    * (base-layout rows predate the batch lineage, so any tombstone
    * masks them), which lets delete → re-append resurrect an id WITHOUT
    * waiting for a compaction — at 100 TB a compaction is a
    * full-generation rewrite, and a crawl that re-fetches a
    * previously retention-deleted URL must not pay it.
    *
    * Layout (shared by all four index families): `tombstones/
    * batch_id=K/` holds the 8-byte id rows, and the batch's `tombstone`
    * log entry, written LAST, commits it — so a crash between the two
    * leaves the half-landed delete INVISIBLE. The entry's `n_ids`/`adj`
    * are, for the text index, the deleted docs' (count, Σ dl)
    * corpus-constant adjustments; the vector families carry
    * `(count, 0)` — they have no corpus constants.
    *
    * Size: tombstones are DELETION-RATE-sized, never corpus-sized —
    * that is what makes the anti-join a broadcast.
    */
  private def maskTombstones(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      idCol: String)(
      rows: DataFrame): DataFrame =
    if (log.tombstones.isEmpty) rows.drop("row_batch")
    else {
      val tombs = spark.read
        .schema(s"$idCol BIGINT, batch_id BIGINT")
        .parquet(s"${log.root}/tombstones")
        .filter(col("batch_id").isin(log.tombstones.map(_.batch): _*))
        .groupBy(col(idCol))
        .agg(max(col("batch_id")).as("tomb_batch"))
      rows.join(broadcast(tombs), Seq(idCol), "left")
        .filter(col("tomb_batch").isNull ||
          col("row_batch") > col("tomb_batch"))
        .drop("tomb_batch", "row_batch")
    }

  /** Write one tombstone batch under the live root of `log` — the
    * shared write half of every `deleteFrom*Index`: ids land under
    * `tombstones/batch_id=K` via dynamic partition overwrite (a replay
    * of a crashed delete rewrites them), then the `tombstone` log entry
    * commits the batch. Returns the log with the entry.
    */
  private def writeTombstoneBatch(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      ids: DataFrame,
      nIds: Long,
      adj: Long,
      batchId: Long): IndexLog.Snapshot = {
    ids
      .withColumn("batch_id", lit(batchId))
      .coalesce(1) // deletion-batch-sized: one file per batch directory
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"${log.root}/tombstones")
    IndexLog.commit(spark, log, IndexLog.Tombstone(batchId, nIds, adj))
  }

  /** DELETE documents from a persisted inverted index — the retention
    * story (C5) finally composing with the index lifecycles: dropping a
    * raw partition never removed its docs from a persisted index, so a
    * 30-day-retention corpus accumulated dead postings until a full
    * rebuild. Tombstones close that: the delete lands as an 8-byte-id
    * batch + a `tombstone` log entry, [[readTextIndex]] (and therefore
    * every batch/streaming serve path) anti-joins it BROADCAST
    * (deletion-rate-sized) and subtracts the deleted docs' (count, Σ dl)
    * from the corpus constants — so BM25 over the logical state is
    * bit-identical to a rebuild over corpus-minus-deleted (the oracle
    * pins exactly that, blind to the mechanism). Compaction
    * ([[compactTextIndex]]) folds tombstones PHYSICALLY: the committed
    * generation's postings no longer contain the rows, its meta carries
    * the adjusted constants, and the tombstone layouts are dropped.
    *
    * Exactly-once under replay: a batch the log already holds, or that
    * a fold absorbed, is skipped — the corpus-constant contribution is
    * counted once, against the committed view with every earlier
    * tombstone batch applied.
    *
    * Cost: O(deletion batch), NOT O(index) — the corpus-constant
    * contribution joins the deletion ids against the `doc_stats`
    * SIDECAR (`(doc_id, dl, dbucket)`, one row per doc, PARTITIONED BY
    * `dbucket = pmod(xxhash64(doc_id), buckets)`), statically pruned to
    * the deletion ids' bucket directories — never a scan of the
    * postings `(doc_id, dl)` projection, since doc_id is not the
    * postings layout key.
    *
    * Deletion is BATCH-SCOPED, not terminal: the tombstone masks only
    * rows from batches ≤ `batchId` ([[maskTombstones]]), so a
    * later [[appendTextIndex]] of the same doc_id RESURRECTS it with no
    * compaction needed — re-add = delete → append. Without the replay
    * skip, a replay of a folded batch would mask the folded — possibly
    * re-appended — base rows.
    *
    * SINGLE MAINTAINER, same as [[appendTextIndex]]: deletes share the
    * append stream's batch-id lineage and must not race maintenance.
    */
  def deleteFromTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      docIds: DataFrame,
      batchId: Long): Unit =
    deleteText(spark, IndexLog.read(spark, rawPath), docIds, batchId)

  private def deleteText(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      docIds: DataFrame,
      batchId: Long): IndexLog.Snapshot = {
    if (log.hasTombstone(batchId)) return log
    // one-row meta: driver-side read, no Spark job (TinyParquet — r18)
    val buckets = TinyParquet.int(
      TinyParquet.readDir(spark.sparkContext.hadoopConfiguration,
        s"${log.root}/meta").head, "buckets")
    // the deletion ids' sidecar buckets (the probe-union idiom turning
    // the stats lookup into a static partition prune) ride the pin job
    // itself (Dataset.observe — r18): the former shape paid a second
    // deletion-batch collect job for them
    val bObs = Observation()
    val ids = docIds.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
      .observe(bObs, collect_set(
        pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
        .as("dbuckets"))
      .localCheckpoint(true)
    val probed: Seq[Int] = bObs.get("dbuckets")
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Int]).sorted
    val stats = docStatsLayers(spark, log)
      .filter(col("dbucket").isin(probed: _*)) // static partition prune
      .join(broadcast(ids), Seq("doc_id"))
    // the committed view at delete time: rows earlier tombstone batches
    // already mask do not count again
    val visible = maskTombstones(spark, log, "doc_id")(stats)
    // ≤ 1 visible row per doc (the append contract: an id is only ever
    // re-added AFTER a delete masks its earlier rows), so plain
    // count/sum — already-deleted or never-indexed ids contribute 0
    val agg = visible
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head
    writeTombstoneBatch(spark, log, ids,
      agg.getLong(0), agg.getLong(1), batchId)
  }

  /** The doc-stats sidecar across all committed layers, as
    * `(doc_id, dl, dbucket, row_batch)` — base rows (row_batch = −1)
    * from `doc_stats/` plus the batches with an `add` entry in `log`
    * from `doc_stats_ingested/`.
    */
  private def docStatsLayers(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): DataFrame =
    withAdds(spark.read
      .schema("doc_id BIGINT, dl BIGINT, dbucket INT")
      .parquet(s"${log.root}/doc_stats")
      .withColumn("row_batch", lit(-1L)), log)(spark.read
      .schema("doc_id BIGINT, dl BIGINT, dbucket INT, batch_id BIGINT")
      .parquet(s"${log.root}/doc_stats_ingested"))

  /** DELETE vectors from a persisted IVF / IVF-PQ index — the
    * [[deleteFromTextIndex]] twin for the vector families: tombstoned
    * vec_ids are anti-joined out of celled ∪ ingested by
    * [[readIvfIndex]] (broadcast — deletion-rate-sized), so every probe
    * path (batch, serving, streaming, ADC) stops returning them
    * immediately; the drift-gated rebuilds and [[compactIvfIndex]] fold
    * them physically and drop the layouts. Like the text twin, deletion
    * is BATCH-SCOPED: the tombstone masks only rows from batches ≤
    * `batchId`, so a later [[appendIvfIndex]] of the same vec_id
    * resurrects it without waiting for a compaction/rebuild (re-add =
    * delete → append). A replay of a batch the log holds or a fold
    * absorbed is skipped — it would otherwise mask the folded base
    * rows.
    */
  def deleteFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      vecIds: DataFrame,
      batchId: Long): Unit =
    deleteVectors(spark, IndexLog.read(spark, rawPath), vecIds, batchId)

  /** DELETE vectors from a persisted LSH index — tombstones mask
    * BOTH sides of the layout ([[readLshIndex]]): the postings (so
    * probes stop surfacing the ids) and the signed table (so the rerank
    * never resurrects them). Batch-scoped like the IVF twin: a later
    * [[appendLshIndex]] of the same vec_id resurrects it;
    * [[compactLshIndex]] folds physically and absorbs the batch.
    */
  def deleteFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecIds: DataFrame,
      batchId: Long): Unit =
    deleteVectors(spark, IndexLog.read(spark, path), vecIds, batchId)

  /** The delete body of both vector families: one tombstone batch of
    * distinct `vec_id`s, skipped on replay.
    */
  private def deleteVectors(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      vecIds: DataFrame,
      batchId: Long): IndexLog.Snapshot = {
    if (log.hasTombstone(batchId)) return log
    // the batch size rides the pin job itself (Dataset.observe — r18):
    // the former ids.count() was a second job over the just-pinned rows
    val nObs = Observation()
    val ids = vecIds.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    writeTombstoneBatch(spark, log, ids,
      nObs.get("n").asInstanceOf[Long], 0L, batchId)
  }

  /** Fold the [[appendTextIndex]] ingested layout back into the base
    * postings — the maintenance pass of the text leg: high ingest rates
    * leave one file per touched (bucket, batch) directory and those
    * small files dominate probe I/O. The fold commits GENERATIONALLY
    * ([[commitGeneration]], as every fold does): the full compacted
    * index (postings + meta with the summed corpus constants + the
    * doc-stats sidecar) lands in a fresh `gen-N/` and one `fold` log
    * entry publishes it — never a multi-rename window, so the folded
    * postings and the ingested batches are never both live. Queries
    * before and after are bit-identical (spec-asserted). The entry
    * carries the cumulative set of batch ids absorbed into base
    * postings, so a post-compaction replay of an old micro-batch is
    * skipped by [[appendTextIndex]] instead of double-counting.
    * Single-maintainer assumption as documented on [[appendTextIndex]].
    * Returns (posting rows after compaction, from the new generation's
    * parquet footers; ingested files folded).
    */
  def compactTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): (Long, Long) =
    compactText(spark, IndexLog.read(spark, rawPath))

  private def compactText(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): (Long, Long) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val path = log.root
    // a delete-only state (tombstones, no appended batches) still has
    // physical work to fold — only the fully-clean state is a no-op
    if (!log.pending) (TinyParquet.rowCount(conf, s"$path/postings"), 0L)
    else {
      val nf = fileCount(spark, s"$path/postings_ingested")
      val idx = readText(spark, log)
      val genDir = commitFold(spark, log) { genDir =>
        writeDistribution(idx.postings, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$genDir/postings")
        Seq((idx.nDocs, idx.totalTokens, idx.buckets))
          .toDF("n_docs", "total_tokens", "buckets")
          .coalesce(1).write.mode("overwrite").parquet(s"$genDir/meta")
        // fold the doc-stats sidecar the same way as the postings: the
        // surviving layers under the batch-scoped tombstone mask, laid
        // out doc-bucketed again. Folded from the SIDECAR layers (docs-
        // sized), not re-derived from postings — zero-token docs survive
        val genStats =
          maskTombstones(spark, log, "doc_id")(docStatsLayers(spark, log))
        writeDistribution(genStats, col("dbucket"))
          .write.mode("overwrite").partitionBy("dbucket")
          .parquet(s"$genDir/doc_stats")
        // the BUILD-time occupancy baseline survives the fold — drift is
        // measured from build, and compaction relocates files, not rows
        // (the [[lshOccupancyDrift]] stance: census identical across
        // compaction, spec-asserted)
        carryTables(spark, path, genDir, "build_census")
      }
      (TinyParquet.rowCount(conf, s"$genDir/postings"), nf)
    }
  }

  /** The hands-off maintenance valve for the text index — the
    * [[rebuildIvfIndex]]/[[rebuildIvfPqIndex]] gate applied to
    * compaction: fold the ingested layout back into base postings when
    * the small-file count or the committed-batch count exceeds its
    * threshold; below both thresholds this is a no-op census read
    * (never a data scan, never a Spark job). With this, all four index
    * families run their maintenance unattended: IVF and IVF-PQ rebuild
    * on occupancy drift, LSH reports bucket-balance drift, and the text
    * index compacts on ingest pressure — the operator sets thresholds,
    * not cron entries.
    *
    * The thresholds target the actual failure mode: each appended batch
    * leaves one file per touched (bucket, batch) directory, and probe
    * I/O degrades with FILE COUNT (per-file open + footer read), not
    * with logical row count — the LSM L0 problem. Defaults are sized so
    * a probed bucket reads ≲ maxIngestedFiles/buckets extra files. The
    * batch counts come from the commit log ([[IndexLog]]), the file
    * count from a listing.
    *
    * Returns (compacted?, ingested files seen, committed batches seen).
    */
  def compactTextIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      maxIngestedFiles: Long = UsePersistedPolicy,
      maxBatches: Long = UsePersistedPolicy): (Boolean, Long, Long) =
    textValve(spark, IndexLog.read(spark, rawPath), maxIngestedFiles,
      maxBatches)

  private def textValve(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot,
      maxIngestedFiles: Long,
      maxBatches: Long): (Boolean, Long, Long) = {
    val pol = log.policy
    val limFiles = resolveThreshold(
      maxIngestedFiles, pol.map(_.maxIngestedFiles), 64L)
    val limBatches = resolveThreshold(maxBatches, pol.map(_.maxBatches), 16L)
    val nFiles = fileCount(spark, s"${log.root}/postings_ingested")
    val nBatches = log.adds.size.toLong
    // tombstone batches count against the SAME valve: each one is a
    // broadcast anti-join + meta adjustment on every read until a
    // compaction folds it physically
    val trip = nFiles > limFiles || nBatches > limBatches ||
      log.tombstones.size > limBatches
    if (trip) compactText(spark, log)
    (trip, nFiles, nBatches)
  }

  /** Reload a persisted inverted index: postings as a partition-pruned
    * parquet table (NOT cached — the point of the layout is that a
    * query reads its probed bucket directories), meta collected (3
    * scalars). Docs added after the build ([[appendTextIndex]]) union
    * in from the ingested layout with the partition columns type-exact,
    * and their per-batch corpus constants SUM into N and T — BM25
    * scores over the incremental state equal a full rebuild's. ONLY
    * batches with an `add` log entry are unioned (the batch_id IN-list
    * prunes the ingested partition directories) — a torn append is
    * invisible, never half-counted. Compacted generations resolve
    * via [[resolveIndexRoot]].
    */
  def readTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): graft.operators.TextAnalysis.TextIndex =
    readText(spark, IndexLog.read(spark, rawPath))

  private def readText(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): graft.operators.TextAnalysis.TextIndex = {
    val path = log.root
    val conf = spark.sparkContext.hadoopConfiguration
    // one-row corpus-constants table: driver-side read, no Spark job
    // (TinyParquet — r18)
    val meta = TinyParquet.readDir(conf, s"$path/meta").head
    // FORMAT detection off the parquet footers (no version file to
    // torn-update): a layout persisted before positional postings (v1)
    // has no `positions` column, and the forced v2 schema below reads
    // it back as all-null — fine for BM25 (which never selects the
    // column) but silently EMPTY for phrase/proximity/snippet, whose
    // explode(positions) drops every null row. The flag makes the
    // positional entry points fail fast with a rebuild-required error
    // instead ([[graft.operators.TextAnalysis.TextIndex.requirePositions]]).
    // A MIXED layout (v1 base + v2 appended batches, or vice versa) is
    // positional only if EVERY unioned table carries the column. The
    // detection is wrapped in a THUNK: schema inference reads footers,
    // and BM25-only readers must not pay that per reload
    def hasPositionsCol(sub: String): Boolean =
      try spark.read.parquet(s"$path/$sub")
        .schema.fieldNames.contains("positions")
      catch {
        // a zero-postings layout (empty corpus build) has no footers to
        // infer from — treat it as positional: every query over an
        // empty table returns empty either way, and the current writer
        // always emits the column once there is data
        case _: org.apache.spark.sql.AnalysisException => true
      }
    // the committed ingest batches union in and their `add` entries
    // sum into the corpus constants; committed tombstones then apply
    // BATCH-SCOPED to the whole view ([[maskTombstones]] — so a
    // re-append AFTER a delete resurrects the doc), and their entries'
    // adjustments subtract — each delete batch counted exactly the docs
    // visible to it, and each re-append's `add` entry adds its
    // constants back, so BM25 over the logical state equals a rebuild
    // over the surviving docs ([[deleteFromTextIndex]])
    val postings = maskTombstones(spark, log, "doc_id")(
      withAdds(readTextPostings(spark, path)
        .withColumn("row_batch", lit(-1L)), log)(spark.read
        .schema("token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
          "positions ARRAY<INT>, bucket INT, batch_id BIGINT")
        .parquet(s"$path/postings_ingested")))
    graft.operators.TextAnalysis.TextIndex(
      postings,
      TinyParquet.long(meta, "n_docs") + log.adds.map(_.nDocs).sum -
        log.tombstones.map(_.nIds).sum,
      TinyParquet.long(meta, "total_tokens") +
        log.adds.map(_.totalTokens).sum - log.tombstones.map(_.adj).sum,
      TinyParquet.int(meta, "buckets"),
      () => hasPositionsCol("postings") &&
        (log.adds.isEmpty || hasPositionsCol("postings_ingested")))
  }

  /** Read the latest committed generation of a [[mergeCensusTable]]
    * census table: `(census, batchId)` of the `gen-<batchId>/` its
    * commit log's newest `fold` entry names. None if no generation has
    * ever committed. A partially-written generation (a crash before its
    * entry) is invisible.
    */
  def readCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(DataFrame, Long)] =
    censusAt(spark, IndexLog.read(spark, path))

  private def censusAt(
      spark: org.apache.spark.sql.SparkSession,
      log: IndexLog.Snapshot): Option[(DataFrame, Long)] =
    log.gen.map(g => (spark.read.parquet(s"${log.rawPath}/gen-$g"), g))

  /** Fold one micro-batch's delta census (per-group HLL sketches from
    * [[graft.operators.Census.distinctSketch]]) into the persisted
    * census table — the transactional sink behind
    * [[graft.streaming.StreamCensus]]. Generation layout: each commit
    * writes the FULL merged census to a fresh `gen-<batchId>/`
    * directory (never in-place — the read of the previous generation
    * and the write of the next touch different paths), commits it with
    * a `fold` entry in the table's commit log ([[IndexLog]]), then
    * deletes the superseded generation. Exactly-once twice over: (a)
    * the transactional guard — a replayed micro-batch (foreachBatch
    * redelivers the same batchId after a crash) is skipped because the
    * log's newest generation is at or past that id; (b) the algebraic
    * backstop — even if the same delta merged twice, HLL union is
    * register-max idempotent, so the census would be bit-identical
    * anyway (spec-asserted both ways).
    *
    * 100 TB shape: the census table is one sketch row per group
    * (KiB·groups, not the corpus), so rewriting it per epoch is cheap
    * relative to any rescan; the corpus rows are read exactly once, in
    * the epoch that carried them. Single-writer by construction (one
    * streaming query owns the path) — the generation swap is the
    * local-FS demonstration of what a table-format commit does at
    * scale. Returns true if the delta was applied, false if skipped as
    * a replay.
    */
  def mergeCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      groupCols: Seq[String],
      batchId: Long): Boolean =
    mergeGenerational(spark, path, delta, batchId)(
      (base, d) => graft.operators.Census.mergeCensus(base, d, groupCols))

  /** [[mergeCensusTable]] for the THETA census
    * ([[graft.operators.Census.thetaSketchTable]] deltas): identical
    * generation-commit lifecycle, theta union-merge instead of HLL. The
    * same exactly-once pair holds — the batchId guard skips replays, and
    * theta union is retained-set idempotent so a double-merged delta is
    * set-identical anyway.
    */
  def mergeThetaCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      groupCols: Seq[String],
      batchId: Long,
      lgK: Int = 12): Boolean =
    mergeGenerational(spark, path, delta, batchId)(
      (base, d) =>
        graft.operators.Census.mergeThetaCensus(base, d, groupCols, lgK))

  /** [[mergeCensusTable]] for the KLL QUANTILE census
    * ([[graft.operators.Census.quantileSketchTable]] deltas): identical
    * generation-commit lifecycle, KLL merge instead of HLL union.
    * CONTRACT DIFFERENCE: KLL merge is counting algebra — a replayed
    * delta would double-count n — so exactly-once here rests ENTIRELY
    * on the batchId transactional guard; there is no algebraic
    * idempotence backstop (spec-demonstrated both ways: the guard
    * skips, and a forced double-merge provably inflates n).
    */
  def mergeKllCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      groupCols: Seq[String],
      batchId: Long,
      k: Int = 200): Boolean =
    mergeGenerational(spark, path, delta, batchId)(
      (base, d) =>
        graft.operators.Census.mergeQuantileCensus(base, d, groupCols, k))

  /** [[mergeKllCensusTable]] for the FREQUENT-ITEMS census
    * ([[graft.operators.Census.freqSketchTable]] deltas) — counter-merge
    * per group, same guard-only exactly-once contract (counting
    * algebra).
    */
  def mergeFreqCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      groupCols: Seq[String],
      batchId: Long,
      maxMapSize: Int = 1024): Boolean =
    mergeGenerational(spark, path, delta, batchId)(
      (base, d) =>
        graft.operators.Census.mergeFreqCensus(base, d, groupCols, maxMapSize))

  /** Shared generation-commit engine of the census sinks: write the full
    * merged table to a fresh `gen-<batchId>/` through
    * [[commitGeneration]] (its `fold` log entry IS the commit), which
    * then drops EVERY generation with a lower id — not just the
    * one read as current, so a crash that previously orphaned an older
    * generation (write new → die before delete) is healed by the next
    * merge instead of leaking forever.
    */
  private def mergeGenerational(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      batchId: Long)(
      mergeFn: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val log = IndexLog.read(spark, path)
    val current = censusAt(spark, log)
    current match {
      case Some((_, last)) if batchId <= last => false
      case _ =>
        val merged = current match {
          case Some((base, _)) => mergeFn(base, delta)
          case None => delta
        }
        commitGeneration(spark, log, batchId, Set.empty)(
          merged.write.mode("overwrite").parquet(_))
        true
    }
  }

  /** C6+ physical design — small-file COMPACTION: rewrite a parquet
    * directory into ~`targetBytes` files. Streaming ingestion (A9's
    * foreachBatch fan-out) produces one file per partition per
    * micro-batch; at 100 TB the resulting millions of small files
    * dominate planning time and scan overhead (footer reads, task
    * startup), so periodic compaction is part of the sink lifecycle, not
    * an afterthought. Sizing uses the files' actual on-disk bytes (not
    * optimizer stats, which estimate decompressed width). Writes to
    * `outPath` — the atomic swap of old-for-new belongs to a table
    * format / metastore commit at scale; a file-level rename swap is
    * spec-demonstrated.
    *
    * Returns the target file count chosen.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath))
      .getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath)
      // coalesce, not repartition: file-count reduction needs no shuffle
      .coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** C5 — retention policy (`add_retention_policy('30 days')` analog):
    * drop whole date partitions older than the cutoff. No data rewrite —
    * O(partitions dropped), the property that matters at 100 TB.
    *
    * Boundary semantics: drops partitions with date STRICTLY BEFORE
    * `firstRetainedDate`; the named date itself is the first one KEPT
    * (the parameter's earlier name, `cutoffDateInclusive`, read as the
    * opposite — an off-by-one-day retention bug waiting in every new
    * call site).
    *
    * Runs on the Hadoop `FileSystem` API (like [[compact]]), so the same
    * call works against local paths, `file:` URIs, HDFS, and S3A — the
    * filesystems a 100 TB table actually lives on. A `java.nio` walk
    * (round ≤3) only ever worked on the local disk.
    */
  def applyRetention(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      firstRetainedDate: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.isDirectory(root)) return Nil
    val dropped = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val name = p.getName
        if (name.startsWith("date=")) {
          val date = name.substring("date=".length)
          if (date < firstRetainedDate) {
            fs.delete(p, true) // recursive: one metadata op per partition
            Some(date)
          } else None
        } else None
      }
    dropped.sorted
  }

  /** Close the RETENTION → INDEX loop in ONE call — the operation a
    * 30-day-retention corpus runs daily. [[applyRetention]] drops raw
    * date partitions and the four `deleteFrom*Index` APIs tombstone a
    * persisted index, but wiring them was the owner's job: hand-derive
    * the expiring ids, call four delete APIs with a correct batch id,
    * then drop — get the order wrong once and the indexes drift. This
    * helper is that wiring: derive the ids living in the raw table's
    * expiring `date=` partitions, write one tombstone batch per
    * registered index root (text / IVF / IVF-PQ / LSH — IVF and IVF-PQ
    * share [[deleteFromIvfIndex]]) under ONE `batchId` lineage, then
    * drop the raw partitions. Returns the dropped dates.
    *
    * Ordering matters twice:
    *   - the expiring ids are read (one column-pruned scan of ONLY the
    *     doomed partition directories — never a corpus pass) and PINNED
    *     (`localCheckpoint`) BEFORE anything is deleted, so the sweep
    *     cannot race its own drops;
    *   - every index tombstone lands BEFORE the raw drop: a crash
    *     mid-sweep leaves raw partitions a re-run re-derives the same
    *     ids from, whereas drop-first would strand index entries whose
    *     raw rows are gone — exactly the dead-postings drift retention
    *     exists to stop.
    *
    * Replay (a crash at ANY point, then the same call again) is
    * exactly-once: roots whose log already holds this `batchId`'s
    * `tombstone` entry are SKIPPED — without that guard, a re-run after
    * the raw drop would re-derive an EMPTY id set and overwrite the
    * batch's tombstones with it, silently resurrecting every swept doc
    * (the dynamic-partition-overwrite replay contract assumes identical
    * batch content, and a swept raw table no longer yields it). The
    * skip is only safe when the prior commit was THIS sweep's, so when
    * the raw partitions still exist (ids re-derivable) the guard
    * VERIFIES the committed batch COVERS the re-derived ids and throws
    * on a gap (covers, not equals: a mid-drop crash legitimately
    * re-derives a subset) — a caller reusing a batch id an unrelated
    * delete already consumed would otherwise be silently skipped,
    * leaving the expiring docs servable forever (exactly the
    * dead-postings drift the sweep exists to prevent). Roots whose
    * batch a compaction already absorbed are skipped too. Each root's
    * log is read once: the replay check, the delete and the valve all
    * act on that snapshot. The sweep shares the indexes'
    * ingest batch-id lineage (SINGLE MAINTAINER, monotone ids — the
    * [[appendTextIndex]] contract), so a later re-crawl of a swept URL
    * is just an append at a higher batch id: the batch-scoped tombstone
    * does not mask it.
    *
    * ID CONTRACT: `idCol` values must be UNIQUE ACROSS `date=`
    * partitions (one partition owns a doc — the layout of a crawl
    * corpus keyed by doc id). The sweep tombstones every id found in
    * the DOOMED partitions; tombstones mask by ID, so if the same id
    * also lives under a RETAINED date (from the same index build /
    * batch lineage ≤ this sweep's `batchId`), the retained copy is
    * masked out of every registered index too — the id is gone from
    * serving even though its raw row survives (RetentionSweepSpec pins
    * this straddle behavior). A copy (re-)ingested at a batch id ABOVE
    * the sweep's survives: the mask is batch-scoped
    * ([[maskTombstones]]), which is also why post-sweep re-crawls
    * need no compaction.
    *
    * Boundary: partitions strictly BEFORE `firstRetainedDate` drop;
    * the named date is the first one kept ([[applyRetention]]).
    *
    * MAINTENANCE (r16): after the deletes land, the sweep runs every
    * registered root's `compact*IfNeeded` valve. The valves were wired
    * into the STREAMING ingest writers in r15, which left the
    * archival lineage — ingest paused, daily sweeps continuing, the
    * exact delete-pressure scenario the valves exist for — accumulating
    * masked-id mass unattended until an ingest batch happened to
    * arrive. The sweep is already each lineage's single-maintainer
    * moment (the batch-id contract above), so running the valves here
    * adds no second maintainer; thresholds resolve per [[ValvePolicy]]
    * (explicit args > the index's persisted policy > family built-ins;
    * `Long.MaxValue` opts out — the streaming writers' convention) and
    * a below-threshold valve is a job-free census. The valves run even
    * on a sweep that found nothing to drop: pressure from PRIOR sweeps
    * is still pressure.
    *
    * A REPLAY AFTER A VALVE FOLD takes the absorbed-batch skip: the
    * fold absorbed this batch id and deleted its id tables, so there is
    * nothing left to verify coverage against — the `fold` entry itself
    * is trusted as proof the batch was this sweep's own earlier landing
    * (a crash between the fold and the raw drop replays exactly this
    * way; RetentionSweepSpec pins it). That trust is exactly why the
    * batch-id contract is absolute: a FOREIGN batch id reused by a
    * sweep is caught by the coverage check only while its `tombstone`
    * entry is live — once a compaction folds it, the reuse is undetectable
    * and the expiring docs stay servable. Allocate sweep batch ids from
    * the same monotone lineage as ingest batch ids, never recycle.
    *
    * Cost at 100 TB: O(dropped partitions) metadata ops + one id-column
    * scan of the dropped partitions + deletion-batch-sized tombstone
    * writes (text: plus the doc-stats sidecar join, O(batch)); the
    * valves add a listing-only census per root below thresholds, and
    * above them the fold every serve was already paying for in masks.
    */
  def retentionSweep(
      spark: org.apache.spark.sql.SparkSession,
      rawTablePath: String,
      firstRetainedDate: String,
      batchId: Long,
      textIndexes: Seq[String] = Nil,
      ivfIndexes: Seq[String] = Nil,
      lshIndexes: Seq[String] = Nil,
      idCol: String = "doc_id",
      maxIngestedFiles: Long = UsePersistedPolicy,
      maxBatches: Long = UsePersistedPolicy,
      maxMaskedIds: Long = UsePersistedPolicy): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(rawTablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.isDirectory(root)) return Nil
    val doomedDirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("date=") &&
          p.getName.substring("date=".length) < firstRetainedDate
      }
    // pin the expiring ids BEFORE any delete happens anywhere
    val expiring = if (doomedDirs.isEmpty) None else Some(
      spark.read.parquet(doomedDirs.map(_.toString): _*)
        .select(col(idCol).cast("long").as(idCol))
        .distinct().localCheckpoint(true))
    // a root is skipped iff this batch already landed there — and,
    // while raw partitions still exist to re-derive from, only after
    // VERIFYING every currently-expiring id is already IN the
    // committed batch (see scaladoc). Subset-direction only: a
    // legitimate mid-crash replay re-derives the same set (crash
    // before any drop) or a SUBSET of it (crash mid-drop — some
    // doomed partitions already gone), so committed ⊇ expiring holds
    // for every replay of THIS sweep; an expiring id MISSING from
    // the commit means the batch id was consumed by something else,
    // and skipping would leave that doc servable forever. Both sides
    // are deletion-batch-sized; the check runs only on replay.
    def landed(path: String, log: IndexLog.Snapshot, ids: DataFrame): Boolean = {
      if (log.tombstones.exists(_.batch == batchId)) {
        val prior = spark.read.parquet(s"${log.root}/tombstones")
          .filter(col("batch_id") === batchId)
        val priorIdCol = prior.columns.filterNot(_ == "batch_id").head
        val priorIds = prior
          .select(col(priorIdCol).cast("long").as(idCol)).distinct()
        val nIds = ids.count()
        val nShared = priorIds.join(ids, idCol).count()
        require(nShared == nIds,
          s"batch $batchId already committed on $path does NOT cover " +
            s"the expiring ids ($nShared of $nIds covered) - a sweep " +
            "must not reuse a batch id an unrelated delete consumed; " +
            "skipping would leave the expiring docs servable")
      }
      log.hasTombstone(batchId)
    }
    // one log snapshot per root: the replay check, the tombstone write
    // and the hands-off maintenance below all act on it
    def swept(path: String, idName: String)(
        delete: (IndexLog.Snapshot, DataFrame) => IndexLog.Snapshot)
        : IndexLog.Snapshot = {
      val log = IndexLog.read(spark, path)
      expiring.filterNot(landed(path, log, _))
        .fold(log)(ids => delete(log, ids.select(col(idCol).as(idName))))
    }
    // maintenance on EVERY registered root, dropped partitions or not
    // (see scaladoc): the archival lineage whose only writes are
    // sweeps must fold its masks here or nowhere
    textIndexes.foreach { p =>
      textValve(spark, swept(p, "doc_id")(deleteText(spark, _, _, batchId)),
        maxIngestedFiles, maxBatches)
    }
    ivfIndexes.foreach { p =>
      ivfValve(spark, swept(p, "vec_id")(deleteVectors(spark, _, _, batchId)),
        maxIngestedFiles, maxBatches, maxMaskedIds)
    }
    lshIndexes.foreach { p =>
      lshValve(spark, swept(p, "vec_id")(deleteVectors(spark, _, _, batchId)),
        maxIngestedFiles, maxBatches, maxMaskedIds)
    }
    applyRetention(spark, rawTablePath, firstRetainedDate)
  }
}
