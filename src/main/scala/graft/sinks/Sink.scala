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

  /** Resolve the LIVE root of a persisted index at `path`: the newest
    * committed generation (`gen-N/` carrying a root-level `_SUCCESS`,
    * written by a rebuild or a compaction through [[commitGeneration]])
    * if any has committed, else `path` itself (the flat layout a fresh
    * [[writeIvfIndex]] produces). The `_SUCCESS` marker IS the commit
    * record — a crash mid-fold leaves a half-written gen dir invisible
    * and the prior generation live, so readers can never observe a torn
    * swap (a new celled table paired with an old quantizer). Same
    * commit-by-generation idiom as [[mergeCensusTable]]; the marker
    * file stands in for a table-format/metastore pointer flip at scale.
    */
  def resolveIndexRoot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) path
    else committedGenerations(fs, root).maxOption
      .map(g => s"$path/gen-$g").getOrElse(path)
  }

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
    * fresh layout), run `write` into the directory (index folds
    * include their `folded` ledger), create the one `_SUCCESS` marker
    * that commits it, then drop what it supersedes ([[dropSuperseded]]).
    * A crash before the marker leaves the prior state live and the
    * half-written generation invisible; a crash after it, before the
    * cleanup, leaves superseded layouts no reader resolves, and the
    * next commit drops them. Returns the committed directory.
    */
  private def commitGeneration(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      gen: Long)(
      write: String => Unit): String = {
    val fs = new org.apache.hadoop.fs.Path(rawPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genDir = s"$rawPath/gen-$gen"
    fs.delete(new org.apache.hadoop.fs.Path(genDir), true)
    write(genDir)
    fs.create(new org.apache.hadoop.fs.Path(s"$genDir/_SUCCESS"), true)
      .close()
    dropSuperseded(spark, rawPath, gen)
    genDir
  }

  /** The generation an index rebuild or fold at `rawPath` commits: one
    * past the newest committed generation, 1 over a flat layout.
    */
  private def nextGeneration(
      spark: org.apache.spark.sql.SparkSession, rawPath: String): Long = {
    val root = new org.apache.hadoop.fs.Path(rawPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedGenerations(fs, root).maxOption.getOrElse(0L) + 1
  }

  /** Drop everything a generation `gen` at `rawPath` supersedes, by one
    * rule: every `gen-N/` below it, committed or torn, and every child
    * that is not a generation, except the lineage's
    * `_valve_policy.json` ([[writeValvePolicy]]). The flat layout, its
    * incremental layers (ingested batches, tombstones, the folded
    * ledger) and the crash-after-commit leftovers of an earlier fold
    * all go. A fresh overwrite build passes `Long.MaxValue`: it
    * supersedes every generation, and a stale tombstone or ledger
    * surviving it would silently delete or swallow fresh rows.
    * Deleting only the immediately-previous root would leak any
    * generation orphaned by a crash-after-commit-before-cleanup —
    * readers resolve the max generation so orphans are invisible, but
    * they would accumulate on disk forever. Every deletion is a
    * recoverable no-op if repeated.
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
        else name != ValvePolicyFile
      }.foreach(fs.delete(_, true))
  }

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
    */
  def writeIvfIndex(
      index: graft.operators.Similarity.IvfIndex,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.celled.sparkSession
    import spark.implicits._
    // declare the lineage's maintenance policy at build time (see
    // [[ValvePolicy]]); None leaves any existing declaration in place —
    // policy is operator configuration, not data, so an overwrite
    // build does not reset it
    policy.foreach(writeValvePolicy(spark, path, _))
    // a FRESH build supersedes every generation and every layer a prior
    // lifecycle left at this path ([[dropSuperseded]]), so the flat
    // layout written below is the one readers resolve (crash mid-write
    // re-exposes at worst a torn flat build, the exposure any
    // overwrite-mode write always had). qcentroids and pq_codebooks go
    // with the rest: a float-trained build over a path that previously
    // held an exact-Lloyd layout must not leave the OLD integer
    // quantizer behind — readIvfIndex would pair the new
    // celled/centroids with a stale (possibly different-nlist) lattice
    // and ivfQueryVectorsIntProbe would silently probe wrong cells
    if (mode == "overwrite") dropSuperseded(spark, path, Long.MaxValue)
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
      path: String): DataFrame = {
    val root = resolveIndexRoot(spark, path)
    occupancyDrift(spark, root, Seq("cell"),
      spark.read.parquet(s"$root/celled"),
      readIvfIndex(spark, path).celled)
  }

  /** The drift census body shared by [[ivfOccupancyDrift]],
    * [[lshOccupancyDrift]] and [[textOccupancyDrift]]: per `keys`
    * directory, the build-time row count persisted at
    * `root/build_census` vs the live count, and the growth in ppm.
    * Indexes persisted before the drift census existed ship no
    * build_census — ADOPT `base` (the index's base-layout rows) as the
    * baseline and persist it (drift is then measured from "now" onward,
    * and the ingested layout — post-build traffic by definition — still
    * counts against it), instead of throwing path-not-found on the
    * first drift/rebuild call against a legacy index.
    */
  private def occupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      keys: Seq[String],
      base: => DataFrame,
      live: DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    spark.read.parquet(adoptBuildCensus(spark, root, keys, base))
      .join(live.groupBy(keyCols: _*).agg(count(lit(1)).as("n_now")),
        keys, "full_outer")
      .select(keyCols ++ Seq(
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        coalesce(col("n_now"), lit(0L)).as("n_now")): _*)
      .withColumn("growth_ppm", expr(
        "(n_now - n_build) * 1000000 div greatest(n_build, 1)"))
      .orderBy(keyCols: _*)
  }

  /** The path of `root/build_census`, first written from `base` when
    * the layout predates the census (see [[occupancyDrift]]).
    */
  private def adoptBuildCensus(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      keys: Seq[String],
      base: => DataFrame): String = {
    val census = s"$root/build_census"
    val p = new org.apache.hadoop.fs.Path(census)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      base.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_build"))
        .coalesce(1).write.mode("overwrite").parquet(census)
    census
  }

  /** The maintenance valve itself: retrain + rewrite the persisted IVF
    * index when any cell's occupancy grew past `thresholdPpm` since
    * build. Below threshold this is a no-op census read. Above it:
    * the CURRENT corpus (celled ∪ ingested — unit vectors are the
    * training input, FAISS-retrain semantics) trains a fresh exact-Lloyd
    * coarse quantizer, the full index (celled + centroids + build
    * census) is written to a fresh `gen-N/` generation and COMMITTED by
    * a single root-level `_SUCCESS` marker ([[resolveIndexRoot]]), and
    * the ingested layout is absorbed — post-rebuild drift is zero by
    * construction and cell balance reflects the live distribution.
    * Queries with the same probe budget keep their contract (nprobe of a
    * BALANCED nlist again); exhaustive-probe answers are bit-identical
    * before/after (spec-asserted — a rebuild relocates rows, never
    * changes them).
    *
    * Crash-safety: the commit is ONE marker-file creation, never a
    * multi-rename window — an earlier version swapped celled, centroids
    * and build_census via three sequential renames, and a crash between
    * them left the NEW celled table paired with the OLD quantizer
    * (probes then assign/prune against the wrong centroids and silently
    * return wrong neighbors). A crash before the marker leaves the old
    * generation live and the half-written gen dir invisible; a crash
    * after it, before cleanup, leaves a superseded layout that readers
    * already ignore.
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
    val maxPpm = ivfOccupancyDrift(spark, path)
      .agg(max(abs(col("growth_ppm")))).head.getLong(0)
    if (maxPpm < thresholdPpm) (false, maxPpm)
    else {
      val oldRoot = resolveIndexRoot(spark, path)
      require(!indexHasPq(spark, oldRoot),
        "IVF-PQ layout: use rebuildIvfPqIndex - a coarse-only rebuild " +
          "would strand the codes against stale codebooks")
      val cur = readIvfIndex(spark, path).celled
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
      // physically with it and the superseded layouts drop on commit
      commitGeneration(spark, path, nextGeneration(spark, path)) { genDir =>
        // qcentsSpace = "unit": this quantizer trained on the stored
        // unit vectors (the raw embeddings are gone) — the persisted
        // space tag makes ivfQueryVectorsIntProbe normalize queries
        // before lattice quantization, keeping probe selection in the
        // training space
        writeIvfIndex(
          graft.operators.Similarity.IvfIndex(
            fresh.centroids, preserved, fresh.qcents, qcentsSpace = "unit"),
          genDir)
        fresh.unpersist()
        // the rebuild absorbed every ingested batch and folded every
        // tombstone — carry their ids in the generation's `folded`
        // ledger so post-rebuild replays are skipped (the fold rule)
        writeFoldedLedger(spark, genDir,
          absorbedBatchIds(spark, oldRoot, "ingested"))
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
    * census) as a fresh `gen-N/` generation under the single
    * [[resolveIndexRoot]] `_SUCCESS` marker — same crash-safety story
    * as [[rebuildIvfIndex]], no multi-rename window.
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
    * commit marker — the half-written generation stays invisible).
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
    val gate = ivfOccupancyDrift(spark, path)
      .agg(max(abs(col("growth_ppm"))),
        coalesce(sum(col("n_now")), lit(0L))).head
    val (maxPpm, nCur) = (gate.getLong(0), gate.getLong(1))
    if (maxPpm < thresholdPpm) (false, maxPpm)
    else {
      val oldRoot = resolveIndexRoot(spark, path)
      val cur = readIvfIndex(spark, path).celled
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
      commitGeneration(spark, path, nextGeneration(spark, path)) { genDir =>
        // unit-space quantizer — see rebuildIvfIndex
        writeIvfPqIndex(
          graft.operators.Similarity.IvfIndex(
            fresh.centroids, preserved, fresh.qcents, qcentsSpace = "unit"),
          model.cents, model.codes, genDir)
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
        // absorbed batch ids → the generation's ledger, as rebuildIvfIndex
        writeFoldedLedger(spark, genDir,
          absorbedBatchIds(spark, oldRoot, "ingested"))
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
    * Exactly-once: `batch_id` is the second partition level and the
    * write is a DYNAMIC partition overwrite, so a replayed batch (a
    * streaming restart re-running its in-flight micro-batch with the
    * same id) overwrites exactly its own `(cell, batch_id=N)`
    * directories instead of appending duplicates —
    * [[graft.streaming.StreamAnnIngest]] relies on this.
    *
    * Periodic [[compact]] of `ingested` back into `celled` (or a
    * centroid retrain + full rebuild when cell balance drifts) is the
    * maintenance valve, same as every write-optimized index.
    *
    * SINGLE MAINTAINER: appends and maintenance on one index path must
    * not run concurrently (maintenance deletes the root an in-flight
    * append resolved) — one owner per path runs both, and a replay
    * whose batch was already compacted must only be redelivered from
    * the SAME checkpoint lineage (see [[appendTextIndex]] for the full
    * contract; the text leg additionally keeps a folded-batch ledger).
    */
  def appendIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vectors: DataFrame,
      batchId: Long): Unit = {
    val root = resolveIndexRoot(spark, path)
    // a batch a compaction/rebuild already absorbed must not re-enter
    // as new data (the appendTextIndex ledger rule)
    if (foldedBatchIds(spark, root).contains(batchId)) return
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
    * Rewrites celled ∪ ingested, tombstones applied, partitioned by
    * cell into a fresh `gen-N/` generation, copies in the tables the
    * fold does not change (centroids, qcentroids, pq_codebooks,
    * build_census) and the `folded` ledger, and commits it the one way
    * every fold commits ([[commitGeneration]]): one `_SUCCESS` marker,
    * then the superseded root and its incremental layers drop. Queries
    * before and after are bit-identical (spec-asserted), only the file
    * census changes. A crash before the marker leaves the prior root
    * live; a crash after it leaves leftovers no reader resolves — never
    * a root without `celled/`, and never an absorbed batch served twice.
    *
    * Returns (rows compacted, ingested files folded in), the row count
    * from the new generation's parquet footers (exact under a retried
    * write stage, and job-free).
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = resolveIndexRoot(spark, rawPath)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val ingestedDir = new org.apache.hadoop.fs.Path(s"$path/ingested")
    val tombsDir = new org.apache.hadoop.fs.Path(s"$path/tombstones_meta")
    // a delete-only state still folds; only the clean state is a no-op
    if (!fs.exists(ingestedDir) && !fs.exists(tombsDir)) {
      (TinyParquet.rowCount(conf, s"$path/celled"), 0L)
    } else {
      val nf = TinyParquet.visibleFiles(fs, ingestedDir).size.toLong
      // batch ids this fold absorbs, into the new generation's `folded`
      // ledger so post-compaction replays of an absorbed append/delete
      // are skipped (a replayed tombstone would otherwise mask the
      // folded — possibly re-appended — base rows; see
      // [[deleteFromIvfIndex]])
      val absorbed = absorbedBatchIds(spark, path, "ingested")
      val merged = readIvfIndex(spark, rawPath).celled
      val genDir = commitGeneration(spark, rawPath,
          nextGeneration(spark, rawPath)) { genDir =>
        writeDistribution(merged, col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$genDir/celled")
        carryTables(spark, path, genDir,
          "centroids", "qcentroids", "pq_codebooks", "build_census")
        writeFoldedLedger(spark, genDir, absorbed)
      }
      (TinyParquet.rowCount(conf, s"$genDir/celled"), nf)
    }
  }

  /** Tombstone pressure census at an index root: (committed tombstone
    * batches, Σ masked ids across them). JOB-FREE on the current layout:
    * [[writeTombstoneBatch]] mirrors each commit record's `n_ids`
    * into the NAME of a zero-byte `_p-<n_ids>` marker beside it
    * (`_p-<n_ids>-<adj>` in the r16 shape — both parse, the dead adj
    * suffix was dropped in r17), so this census is a pure FileSystem
    * listing — the below-threshold path of a valve running on a
    * 1-second micro-batch cadence must not pay two driver-side Spark
    * jobs per family per batch just to learn nothing changed (r15
    * verdict). The parquet commit record stays the source of truth; a
    * batch directory missing its marker (a pre-r16 layout, or a crash
    * between the meta write and the marker) falls back to the original
    * one-collect read for the WHOLE census — correctness never rides
    * the cache (spec-pinned: VectorTombstoneValveSpec deletes a marker
    * and asserts identical counts and an unchanged valve verdict).
    */
  private def tombstonePressure(
      spark: org.apache.spark.sql.SparkSession,
      root: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val batchDirs = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
    if (batchDirs.isEmpty) return (0L, 0L)
    val markers = batchDirs.map { d =>
      fs.listStatus(d.getPath).toSeq
        .map(_.getPath.getName).find(_.startsWith("_p-"))
    }
    if (markers.forall(_.isDefined)) {
      val nIds = markers.flatten
        .map(_.stripPrefix("_p-").split("-")(0).toLong).sum
      (batchDirs.size.toLong, nIds)
    } else {
      // marker-less fallback (pre-r16 layout or a crash between meta
      // and marker): driver-side read of the commit records — same
      // counts, still no Spark job (TinyParquet — r18)
      val rows = TinyParquet.readDir(
        spark.sparkContext.hadoopConfiguration, s"$root/tombstones_meta")
      (rows.length.toLong, rows.map(TinyParquet.long(_, "n_ids")).sum)
    }
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

  /** The [[ValvePolicy]] side-file's name at an index's raw path. */
  private val ValvePolicyFile = "_valve_policy.json"

  /** Persist `policy` as the index's `_valve_policy.json` — a one-line
    * JSON side-file at the RAW path (NOT the resolved generation root:
    * rebuilds and compactions swap generations under the raw path, and
    * the policy governs the lineage, not one generation). Written via
    * temp-file + rename so a reader never sees a torn line. The build
    * entry points take an optional policy and call this, making
    * build-time the natural declaration site; calling it later
    * reconfigures the lineage in place.
    */
  def writeValvePolicy(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      policy: ValvePolicy): Unit = {
    // thresholds are counts: a negative value is never a threshold,
    // and a hand-copied −1 sentinel persisted here would make every
    // valve fold on every call with no error anywhere (r16 advice) —
    // reject at the declaration site, and again on read for files
    // this writer never saw
    requireValidPolicy(policy, s"writeValvePolicy($rawPath)")
    val dir = new org.apache.hadoop.fs.Path(rawPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$rawPath/.$ValvePolicyFile.tmp")
    val out = fs.create(tmp, true)
    out.write(
      (s"""{"max_ingested_files":${policy.maxIngestedFiles},""" +
        s""""max_batches":${policy.maxBatches},""" +
        s""""max_masked_ids":${policy.maxMaskedIds}}""")
        .getBytes("UTF-8"))
    out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$rawPath/$ValvePolicyFile")
    // ATOMIC rename-over where the FS supports it (FileContext with
    // Rename.OVERWRITE — local FS and HDFS do): the pre-r17
    // delete-then-rename pair left a window where a concurrently
    // running valve saw NO policy file and silently resolved to family
    // built-ins for that one call. On object stores whose rename is
    // copy+delete the window is the store's, not ours — a deployment
    // there should front policy reads with its atomic-metadata layer.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException =>
        // FS without a FileContext binding: fall back to the two-step
        // swap (brief no-policy window, resolves to built-ins)
        fs.delete(dst, false)
        fs.rename(tmp, dst)
    }
  }

  /** Shared [[ValvePolicy]] field validation — thresholds are counts,
    * never negative (see [[writeValvePolicy]]).
    */
  private def requireValidPolicy(p: ValvePolicy, where: String): Unit =
    require(
      p.maxIngestedFiles >= 0L && p.maxBatches >= 0L &&
        p.maxMaskedIds >= 0L,
      s"$where: ValvePolicy fields must be >= 0, got " +
        s"(${p.maxIngestedFiles}, ${p.maxBatches}, ${p.maxMaskedIds}) " +
        "- a negative value is not a threshold (and -1 is the " +
        "explicit-arg sentinel, meaningless persisted)")

  /** Read the persisted [[ValvePolicy]] at `rawPath` — a FileSystem read
    * (never a Spark job: the valves consult this on every micro-batch).
    * None when the lineage never declared one.
    */
  def readValvePolicy(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): Option[ValvePolicy] = {
    val p = new org.apache.hadoop.fs.Path(s"$rawPath/$ValvePolicyFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(k: String): Option[Long] =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
    val parsed = for {
      f <- field("max_ingested_files")
      b <- field("max_batches")
      m <- field("max_masked_ids")
    } yield ValvePolicy(f, b, m)
    // a hand-edited file carrying a negative "threshold" must fail
    // LOUDLY here, not silently compact on every valve call (write-side
    // twin: [[writeValvePolicy]])
    parsed.foreach(requireValidPolicy(_, s"readValvePolicy($rawPath)"))
    parsed
  }

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
    * tombstones apply physically and their layouts drop, the `folded`
    * ledger absorbs both — probe answers are
    * bit-identical before/after (spec-asserted), only the file census
    * and the mask cost change.
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
      maxMaskedIds: Long = UsePersistedPolicy): (Boolean, Long, Long, Long) = {
    val pol = readValvePolicy(spark, rawPath)
    val limFiles = resolveThreshold(
      maxIngestedFiles, pol.map(_.maxIngestedFiles), 64L)
    val limBatches = resolveThreshold(maxBatches, pol.map(_.maxBatches), 16L)
    val limMasked = resolveThreshold(
      maxMaskedIds, pol.map(_.maxMaskedIds), 100000L)
    val path = resolveIndexRoot(spark, rawPath)
    val ingested = new org.apache.hadoop.fs.Path(s"$path/ingested")
    val fs = ingested.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = TinyParquet.visibleFiles(fs, ingested).size.toLong
    val (nTombBatches, maskedIds) = tombstonePressure(spark, path)
    val nBatches = batchIdsAt(spark, path, "ingested").size + nTombBatches
    if (nFiles <= limFiles && nBatches <= limBatches &&
        maskedIds <= limMasked)
      (false, nFiles, nBatches, maskedIds)
    else {
      compactIvfIndex(spark, rawPath)
      (true, nFiles, nBatches, maskedIds)
    }
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
      rawPath: String): graft.operators.Similarity.IvfIndex = {
    val path = resolveIndexRoot(spark, rawPath)
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
          // layouts persisted before the space column trained on raw
          // embeddings (the only build path back then) — default "raw"
          if (qcRows.head.contains("space"))
            TinyParquet.string(qcRows.head, "space")
          else "raw")
    val celled = spark.read.parquet(s"$path/celled")
    val ingestedDir = new org.apache.hadoop.fs.Path(s"$path/ingested")
    val hasIngested = ingestedDir
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(ingestedDir)
    // row_batch (−1 = base celled, else ingest batch id) keys the
    // batch-scoped tombstone mask below
    val all =
      if (!hasIngested) celled.withColumn("row_batch", lit(-1L))
      else {
        // declared schema: the partition columns must come back as
        // exactly (cell INT, batch_id BIGINT) or a silent cast on the
        // probe predicate could defeat directory pruning; a PQ layout's
        // ingested rows additionally carry their codes
        val (schema, cols) =
          if (indexHasPq(spark, path))
            ("vec_id BIGINT, unit ARRAY<DOUBLE>, codes ARRAY<INT>, " +
              "cell INT, batch_id BIGINT",
              Seq(col("vec_id"), col("unit"), col("codes"), col("cell"),
                col("batch_id").as("row_batch")))
          else
            ("vec_id BIGINT, unit ARRAY<DOUBLE>, cell INT, batch_id BIGINT",
              Seq(col("vec_id"), col("unit"), col("cell"),
                col("batch_id").as("row_batch")))
        celled.withColumn("row_batch", lit(-1L)).unionByName(
          spark.read.schema(schema).parquet(s"$path/ingested")
            .select(cols: _*),
          allowMissingColumns = true)
      }
    // committed tombstones ([[deleteFromIvfIndex]]) mask the whole view
    // broadcast and BATCH-SCOPED (`row_batch > tomb_batch` survival —
    // a re-append after a delete resurrects the vector) — every probe
    // path (batch/serving/streaming/ADC) stops returning deleted
    // vectors immediately; rebuilds and [[compactIvfIndex]] fold them
    // physically
    val live = committedTombstones(spark, path, "vec_id") match {
      case None => all.drop("row_batch")
      case Some((tombs, _, _)) =>
        maskTombstones(all, "vec_id", tombs)
    }
    graft.operators.Similarity.IvfIndex(centroids, live, qcents, qcSpace)
  }

  /** C6+ / similarity — persist the IVF-PQ index (the full FAISS-style
    * billion-scale layout on disk): the celled corpus with its PQ CODES
    * column alongside, partitioned by cell — so a probe (a) touches
    * nprobe directories (partition pruning) and (b) its ADC candidate
    * scan reads `(vec_id, codes)` ONLY (parquet column pruning: the
    * full-width `unit` vectors never leave disk except for the rerank
    * shortlist; SimilarityIndexPersistSpec asserts both prunings on the
    * plan) — plus the coarse centroids and the per-subspace PQ codebooks
    * (m·k rows). [[readIvfPqIndex]] + `Similarity.ivfPqQueryPruned` are
    * the consuming path.
    */
  def writeIvfPqIndex(
      index: graft.operators.Similarity.IvfIndex,
      pqCents: Array[Array[Array[Long]]],
      codes: DataFrame,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.celled.sparkSession
    import spark.implicits._
    policy.foreach(writeValvePolicy(spark, path, _)) // see writeIvfIndex
    if (mode == "overwrite") dropSuperseded(spark, path, Long.MaxValue)
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
    val base = readIvfIndex(spark, path)
    (base, readPqCodebooks(spark, resolveIndexRoot(spark, path)))
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
    * partition pruning).
    */
  def writeLshIndex(
      index: graft.operators.Similarity.LshIndex,
      path: String,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = index.signed.sparkSession
    import spark.implicits._
    policy.foreach(writeValvePolicy(spark, path, _)) // see writeIvfIndex
    if (mode == "overwrite") dropSuperseded(spark, path, Long.MaxValue)
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
    * first-class valve here. Indexes persisted before this census
    * existed adopt live occupancy as the baseline, like
    * [[ivfOccupancyDrift]].
    */
  def lshOccupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = resolveIndexRoot(spark, path)
    occupancyDrift(spark, root, Seq("band", "bucket"),
      spark.read.schema("vec_id BIGINT, band INT, bucket BIGINT")
        .parquet(s"$root/postings"),
      readLshIndex(spark, path).postings)
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
    * Exactly-once: `batch_id` is the last partition level and the write
    * is a DYNAMIC partition overwrite, so a replayed micro-batch
    * overwrites its own directories instead of appending duplicates —
    * [[graft.streaming.StreamLshIngest]] relies on this, same contract
    * as the IVF ingest path. Single-maintainer assumption as documented
    * on [[appendIvfIndex]]/[[appendTextIndex]].
    */
  def appendLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vectors: DataFrame,
      batchId: Long): Unit = {
    import graft.operators.Similarity
    val root = resolveIndexRoot(spark, path)
    // folded-ledger replay guard, as appendIvfIndex
    if (foldedBatchIds(spark, root).contains(batchId)) return
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
  }

  /** Fold the [[appendLshIndex]] ingested layouts back into the base
    * `signed/` and `postings/` tables — the [[compactIvfIndex]] twin:
    * streamed micro-batches leave one file per touched (band, bucket,
    * batch) directory and those small files dominate probe I/O at high
    * ingest rates. Rewrites signed ∪ signed_ingested and postings ∪
    * postings_ingested, tombstones applied, into a fresh `gen-N/`
    * generation, copies in the tables the fold does not change
    * (planes, meta, build_census) and the `folded` ledger, and commits
    * it through [[commitGeneration]], exactly as [[compactIvfIndex]]
    * does — queries before and after are bit-identical
    * (spec-asserted), only the file census changes.
    *
    * Returns (signed rows after compaction, from the new generation's
    * parquet footers; ingested posting files folded in).
    */
  def compactLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = resolveIndexRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val signedIn = new org.apache.hadoop.fs.Path(s"$root/signed_ingested")
    val postIn = new org.apache.hadoop.fs.Path(s"$root/postings_ingested")
    val tombsIn = new org.apache.hadoop.fs.Path(s"$root/tombstones_meta")
    if (!fs.exists(signedIn) && !fs.exists(postIn) &&
        !fs.exists(tombsIn)) {
      (TinyParquet.rowCount(conf, s"$root/signed"), 0L)
    } else {
      val nf = TinyParquet.visibleFiles(fs, postIn).size.toLong
      // absorbed batch ids → `folded` ledger, the compactIvfIndex twin
      val absorbed = absorbedBatchIds(spark, root, "signed_ingested")
      val merged = readLshIndex(spark, path)
      val genDir = commitGeneration(spark, path,
          nextGeneration(spark, path)) { genDir =>
        merged.signed.write.mode("overwrite").parquet(s"$genDir/signed")
        writeDistribution(merged.postings, col("band"), col("bucket"))
          .write.mode("overwrite").partitionBy("band", "bucket")
          .parquet(s"$genDir/postings")
        carryTables(spark, root, genDir, "planes", "meta", "build_census")
        writeFoldedLedger(spark, genDir, absorbed)
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
      maxMaskedIds: Long = UsePersistedPolicy): (Boolean, Long, Long, Long) = {
    val pol = readValvePolicy(spark, path)
    val limFiles = resolveThreshold(
      maxIngestedFiles, pol.map(_.maxIngestedFiles), 1024L)
    val limBatches = resolveThreshold(maxBatches, pol.map(_.maxBatches), 16L)
    val limMasked = resolveThreshold(
      maxMaskedIds, pol.map(_.maxMaskedIds), 100000L)
    val root = resolveIndexRoot(spark, path)
    val postIn = new org.apache.hadoop.fs.Path(s"$root/postings_ingested")
    val fs = postIn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = TinyParquet.visibleFiles(fs, postIn).size.toLong
    val (nTombBatches, maskedIds) = tombstonePressure(spark, root)
    val nBatches =
      batchIdsAt(spark, root, "signed_ingested").size + nTombBatches
    if (nFiles <= limFiles && nBatches <= limBatches &&
        maskedIds <= limMasked)
      (false, nFiles, nBatches, maskedIds)
    else {
      compactLshIndex(spark, path)
      (true, nFiles, nBatches, maskedIds)
    }
  }

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
      path: String): graft.operators.Similarity.PersistedLshIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = resolveIndexRoot(spark, path)
    def exists(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      p.getFileSystem(conf).exists(p)
    }
    val (planes, bands) = readLshPlanes(spark, root)
    val signedBase = spark.read.parquet(s"$root/signed")
      .withColumn("row_batch", lit(-1L))
    // vectors added after the build ([[appendLshIndex]]) union in from
    // the ingested layouts; declared schemas keep the partition columns
    // type-exact so static probe predicates still prune directories.
    // row_batch (−1 = base) keys the batch-scoped tombstone mask below
    val signed =
      if (!exists("signed_ingested")) signedBase
      else signedBase.unionByName(
        spark.read
          .schema("vec_id BIGINT, unit ARRAY<DOUBLE>, sig BIGINT, " +
            "batch_id BIGINT")
          .parquet(s"$root/signed_ingested")
          .select(col("vec_id"), col("unit"), col("sig"),
            col("batch_id").as("row_batch")),
        allowMissingColumns = true)
    val postingsBase = spark.read
      .schema("vec_id BIGINT, band INT, bucket BIGINT")
      .parquet(s"$root/postings")
      .withColumn("row_batch", lit(-1L))
    val postings =
      if (!exists("postings_ingested")) postingsBase
      else postingsBase.unionByName(
        spark.read
          .schema("vec_id BIGINT, band INT, bucket BIGINT, batch_id BIGINT")
          .parquet(s"$root/postings_ingested")
          .select(col("vec_id"), col("band"), col("bucket"),
            col("batch_id").as("row_batch")))
    // committed tombstones ([[deleteFromLshIndex]]) mask BOTH sides,
    // batch-scoped (`row_batch > tomb_batch` survival — a re-append
    // resurrects): postings (probes stop surfacing the ids) AND signed
    // (the rerank must not resurrect them) — broadcast,
    // deletion-rate-sized
    val (liveSigned, livePostings) =
      committedTombstones(spark, root, "vec_id") match {
        case None => (signed.drop("row_batch"), postings.drop("row_batch"))
        case Some((tombs, _, _)) => (
          maskTombstones(signed, "vec_id", tombs),
          maskTombstones(postings, "vec_id", tombs))
      }
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
    * while a B-term query still prunes to ≤ B directories.
    */
  def writeTextIndex(
      docs: DataFrame,
      path: String,
      buckets: Int = 64,
      mode: String = "overwrite",
      policy: Option[ValvePolicy] = None): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    policy.foreach(writeValvePolicy(spark, path, _)) // see writeIvfIndex
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
    // prior lifecycle left at this path ([[dropSuperseded]]) — a stale
    // tombstone surviving an overwrite build would silently delete
    // freshly-indexed docs, and a stale folded ledger would SWALLOW
    // every future delete/append whose batch id it already contains.
    // This runs only AFTER the input is pinned and its contract checks
    // passed: every read of `docs` (which may even derive from this
    // index) and every `require` above precedes the first destructive
    // action.
    if (mode == "overwrite") dropSuperseded(spark, path, Long.MaxValue)
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
    * DIRECTORY side). Indexes persisted before this census existed
    * adopt live base occupancy as the baseline, like
    * [[ivfOccupancyDrift]].
    */
  def textOccupancyDrift(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): DataFrame = {
    val root = resolveIndexRoot(spark, rawPath)
    occupancyDrift(spark, root, Seq("bucket"),
      readTextPostings(spark, root),
      readTextIndex(spark, rawPath).postings)
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
    * and their corpus constants into a per-batch `meta_ingested` row;
    * queries through [[readTextIndex]] see them immediately (both
    * layouts union in, N and T sum across base + batches, and df is
    * counted on the unioned matched postings — so incremental state is
    * SEMANTICALLY IDENTICAL to a full rebuild over the union, which is
    * what the oracle pins). Exactly-once: `batch_id` is a partition
    * level on both tables and the writes are dynamic partition
    * overwrites, so a replayed micro-batch overwrites its own
    * directories instead of double-counting N/T/df.
    *
    * Crash-safety: the batch's `meta_ingested` row is written LAST and
    * IS the commit record — [[readTextIndex]] only unions posting
    * batches whose batch_id appears in the meta table, so a crash
    * between the two writes leaves the half-landed batch INVISIBLE
    * (replaying it overwrites both layouts) instead of unioning
    * postings whose corpus constants were never counted.
    *
    * Exactly-once ACROSS COMPACTION: a replay of a batch that
    * [[compactTextIndex]] already folded into the base postings (a
    * restart from a checkpoint older than the compaction) is detected
    * via the generation's `folded` ledger and SKIPPED — re-adding it
    * would double-count its docs into N/T/df. This assumes one logical
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
    import spark.implicits._
    val path = resolveIndexRoot(spark, rawPath)
    if (foldedBatchIds(spark, path).contains(batchId)) return
    // one-row meta: driver-side read, no Spark job (TinyParquet — r18)
    val buckets = TinyParquet.int(
      TinyParquet.readDir(spark.sparkContext.hadoopConfiguration,
        s"$path/meta").head, "buckets")
    val counts = graft.operators.TextAnalysis.docTermPostings(docs)
      .localCheckpoint(true)
    val dl = counts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // the batch's doc-stats sidecar rows (see [[writeTextIndex]]) —
    // before the commit record, same torn-batch invisibility; LEFT
    // join so zero-token docs carry dl = 0. Pinned ONCE (batch-sized):
    // this one pass over the batch feeds the sidecar write, the
    // commit record's corpus constants (n_docs = its row count,
    // total_tokens = its dl sum) AND the postings write's dl column
    // (r17 — the postings join previously re-ran the dl aggregate) —
    // the pre-r15 shape paid a separate docs scan for the sidecar
    // join and ANOTHER for docs.count(), the append-path cost the r14
    // A/B flagged on text_bm25_incremental.
    // The localCheckpoint(true) durability stance is writeTextIndex's:
    // local pin, executor loss = retry the append (idempotent — the
    // commit record lands last)
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
    // the COMMIT record for this batch — last write, see scaladoc
    Seq((constants.getLong(0), constants.getLong(1), batchId))
      .toDF("n_docs", "total_tokens", "batch_id")
      .coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$path/meta_ingested")
  }

  /** Batch ids already folded into an index's base layout — read from
    * the `folded` ledger at the RESOLVED root (empty for a
    * never-compacted index or a pre-ledger layout). Every rebuild and
    * compaction writes it into the generation it commits
    * ([[writeFoldedLedger]]). Appends AND deletes consult it: a
    * replayed batch whose effects a compaction already folded must be
    * skipped, not re-applied.
    */
  private def foldedBatchIds(
      spark: org.apache.spark.sql.SparkSession,
      root: String): Set[Long] = {
    // ledger = tiny metadata (one row per absorbed batch): driver-side
    // read, no Spark job (TinyParquet — r18)
    TinyParquet
      .readDir(spark.sparkContext.hadoopConfiguration, s"$root/folded")
      .map(TinyParquet.long(_, "batch_id")).toSet
  }

  /** Persist the cumulative folded-batch ledger at `root` (no-op when
    * empty — a ledger-less layout means "nothing ever folded").
    */
  private def writeFoldedLedger(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      ids: Set[Long]): Unit = {
    import spark.implicits._
    if (ids.nonEmpty)
      ids.toSeq.sorted.toDF("batch_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/folded")
  }

  // ============================================== document/vector DELETE

  /** Committed tombstones at an index root: the deleted-id table as
    * `(idCol, tomb_batch = max committed tombstone batch per id)`
    * (restricted to batches whose commit record landed, optionally only
    * batches BELOW `beforeBatch`) plus the summed meta adjustments
    * `(Σ n_ids, Σ adj)`. None when no committed tombstone batch exists.
    *
    * `tomb_batch` is what makes deletes BATCH-SCOPED rather than
    * terminal: a tombstone at batch K masks only rows from batches ≤ K
    * (readers keep a row iff `row_batch > tomb_batch`; base-layout rows
    * predate the batch lineage and carry row_batch = −1, so any
    * tombstone masks them), which lets delete → re-append resurrect an
    * id WITHOUT waiting for a compaction — at 100 TB a compaction is a
    * full-generation rewrite, and a crawl that re-fetches a
    * previously retention-deleted URL must not pay it.
    *
    * Layout (shared by all four index families): `tombstones/
    * batch_id=K/` holds the 8-byte id rows, `tombstones_meta/
    * batch_id=K/` one `(n_ids, adj, batch_id)` row written LAST — the
    * commit record, exactly the [[appendTextIndex]] meta_ingested
    * protocol, so a crash between the two writes leaves the half-landed
    * delete INVISIBLE. For the text index `n_ids`/`adj` are the deleted
    * docs' (count, Σ dl) corpus-constant adjustments; the vector
    * families carry `(count, 0)` — they have no corpus constants.
    *
    * Size: tombstones are DELETION-RATE-sized, never corpus-sized —
    * that is what makes the read-side anti-join a broadcast.
    */
  private def committedTombstones(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      idCol: String,
      beforeBatch: Option[Long] = None): Option[(DataFrame, Long, Long)] = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$root/tombstones_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath)) return None
    // an index folded by an in-place compaction (before folds committed
    // generations) can carry the commit record without its id table:
    // the ids are already PHYSICALLY absent from the rewritten index, so
    // the stale record means "nothing left to mask" — treat it as empty
    // rather than letting every subsequent read throw path-not-found
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/tombstones")))
      return None
    // commit records are one tiny row per batch: driver-side read, no
    // Spark job (TinyParquet — r18)
    val committed = TinyParquet
      .readDir(spark.sparkContext.hadoopConfiguration,
        s"$root/tombstones_meta")
      .map(r => (TinyParquet.long(r, "batch_id"),
        TinyParquet.long(r, "n_ids"), TinyParquet.long(r, "adj")))
      .filter(t => beforeBatch.forall(t._1 < _))
      .sortBy(_._1)
    if (committed.isEmpty) return None
    val ids = spark.read
      .schema(s"$idCol BIGINT, batch_id BIGINT")
      .parquet(s"$root/tombstones")
      .filter(col("batch_id").isin(committed.map(_._1).toSeq: _*))
      .groupBy(col(idCol))
      .agg(max(col("batch_id")).as("tomb_batch"))
    Some((ids, committed.map(_._2).sum, committed.map(_._3).sum))
  }

  /** Apply committed tombstones to a layered table whose rows carry
    * `row_batch` (−1 for base-layout rows, the ingest batch id for
    * incremental rows): keep a row iff no tombstone masks it —
    * `row_batch > tomb_batch` survival, the batch-scoped visibility
    * rule ([[committedTombstones]]). Broadcast: tombstones are
    * deletion-rate-sized. Drops the bookkeeping columns on the way out.
    */
  private def maskTombstones(
      rows: DataFrame,
      idCol: String,
      tombs: DataFrame): DataFrame =
    rows.join(broadcast(tombs), Seq(idCol), "left")
      .filter(col("tomb_batch").isNull ||
        col("row_batch") > col("tomb_batch"))
      .drop("tomb_batch", "row_batch")

  /** Write one tombstone batch (ids + commit record) under `root` —
    * the shared write half of every `deleteFrom*Index`: ids land under
    * `tombstones/batch_id=K` via dynamic partition overwrite
    * (replay-idempotent), the meta row lands LAST and IS the commit.
    */
  private def writeTombstoneBatch(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      ids: DataFrame,
      nIds: Long,
      adj: Long,
      batchId: Long): Unit = {
    import spark.implicits._
    ids
      .withColumn("batch_id", lit(batchId))
      .coalesce(1) // deletion-batch-sized: one file per batch directory
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$root/tombstones")
    Seq((nIds, adj, batchId)).toDF("n_ids", "adj", "batch_id")
      .coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$root/tombstones_meta")
    // mirror n_ids into a zero-byte marker NAME beside the commit
    // record so [[tombstonePressure]] is a pure listing (underscore
    // prefix: invisible to parquet readers). Written AFTER the record —
    // the record stays the commit; a crash here just costs the census
    // its job-free fast path until the next delete on this batch id
    // (dynamic overwrite clears the partition dir, so a replay rewrites
    // the marker too). Format narrowed in r17 to `_p-<n_ids>`: the r16
    // shape also mirrored `adj`, but no census ever read it — dead
    // data in a filename format is a maintenance trap (r16 verdict);
    // the parser accepts both shapes, so r16-written markers still
    // serve the fast path. The commit record keeps `adj` — it is the
    // compaction-side input, read from parquet where it is consumed.
    val markerDir = new org.apache.hadoop.fs.Path(
      s"$root/tombstones_meta/batch_id=$batchId")
    markerDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(markerDir, s"_p-$nIds"),
        true)
      .close()
  }

  /** DELETE documents from a persisted inverted index — the retention
    * story (C5) finally composing with the index lifecycles: dropping a
    * raw partition never removed its docs from a persisted index, so a
    * 30-day-retention corpus accumulated dead postings until a full
    * rebuild. Tombstones close that: the delete lands as an 8-byte-id
    * batch + a commit record, [[readTextIndex]] (and therefore every
    * batch/streaming serve path) anti-joins it BROADCAST
    * (deletion-rate-sized) and subtracts the deleted docs' (count, Σ dl)
    * from the corpus constants — so BM25 over the logical state is
    * bit-identical to a rebuild over corpus-minus-deleted (the oracle
    * pins exactly that, blind to the mechanism). Compaction
    * ([[compactTextIndex]]) folds tombstones PHYSICALLY: the committed
    * generation's postings no longer contain the rows, its meta carries
    * the adjusted constants, and the tombstone layouts are dropped.
    *
    * Exactly-once under replay, WITHOUT a ledger: the corpus-constant
    * contribution is recomputed against the view with every EARLIER
    * tombstone batch applied and this batch (and any later one) ignored
    * — a replayed batch K re-derives exactly the numbers K computed the
    * first time (monotone foreachBatch ids), and a replay arriving
    * AFTER a compaction folded K finds its docs physically absent and
    * correctly contributes zero on a base whose meta already carries
    * K's adjustment. Both writes are dynamic partition overwrites.
    *
    * Cost: O(deletion batch), NOT O(index) — the corpus-constant
    * contribution joins the deletion ids against the `doc_stats`
    * SIDECAR (`(doc_id, dl, dbucket)`, one row per doc, PARTITIONED BY
    * `dbucket = pmod(xxhash64(doc_id), buckets)`), statically pruned to
    * the deletion ids' bucket directories — the earlier implementation
    * scanned the whole postings `(doc_id, dl)` projection per batch
    * because doc_id is not the postings layout key. Layouts persisted
    * before the sidecar existed ADOPT one on first delete (one
    * column-pruned postings pass, then O(batch) forever; zero-token
    * docs are unrecoverable from postings — adopted sidecars count
    * them as the old scan did).
    *
    * Deletion is BATCH-SCOPED, not terminal: the tombstone masks only
    * rows from batches ≤ `batchId` ([[committedTombstones]]), so a
    * later [[appendTextIndex]] of the same doc_id RESURRECTS it with no
    * compaction needed — re-add = delete → append. A replay of a batch
    * that a compaction already folded physically is skipped via the
    * generation's `folded` ledger (exactly the [[appendTextIndex]]
    * guard; without it the replayed tombstone would mask the folded —
    * possibly re-appended — base rows).
    *
    * SINGLE MAINTAINER, same as [[appendTextIndex]]: deletes share the
    * append stream's batch-id lineage and must not race maintenance.
    */
  def deleteFromTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      docIds: DataFrame,
      batchId: Long): Unit = {
    val path = resolveIndexRoot(spark, rawPath)
    if (foldedBatchIds(spark, path).contains(batchId)) return
    // one-row meta: driver-side read, no Spark job (TinyParquet — r18)
    val buckets = TinyParquet.int(
      TinyParquet.readDir(spark.sparkContext.hadoopConfiguration,
        s"$path/meta").head, "buckets")
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
    val stats = docStatsLayers(spark, path, buckets,
        beforeBatch = Some(batchId))
      .filter(col("dbucket").isin(probed: _*)) // static partition prune
      .join(broadcast(ids), Seq("doc_id"))
    // batch-scoped visibility at delete time: rows from batches BELOW
    // this one (docStatsLayers applied that), minus rows earlier
    // tombstone batches already mask — a replayed batch K re-derives
    // exactly the numbers K computed the first time, whatever appended
    // or deleted after it
    val visible = committedTombstones(spark, path, "doc_id",
        beforeBatch = Some(batchId)) match {
      case Some((tombs, _, _)) =>
        stats.join(broadcast(tombs), Seq("doc_id"), "left")
          .filter(col("tomb_batch").isNull ||
            col("row_batch") > col("tomb_batch"))
      case None => stats
    }
    // ≤ 1 visible row per doc (the append contract: an id is only ever
    // re-added AFTER a delete masks its earlier rows), so plain
    // count/sum — already-deleted or never-indexed ids contribute 0
    val agg = visible
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head
    writeTombstoneBatch(spark, path, ids,
      agg.getLong(0), agg.getLong(1), batchId)
  }

  /** The doc-stats sidecar across all committed layers, as
    * `(doc_id, dl, dbucket, row_batch)` — base rows (row_batch = −1)
    * from `doc_stats/` plus committed, unfolded ingest batches from
    * `doc_stats_ingested/` (below `beforeBatch` when given, the
    * [[deleteFromTextIndex]] replay rule). Adopts a sidecar from the
    * postings for layouts persisted before it existed.
    */
  private def docStatsLayers(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      buckets: Int,
      beforeBatch: Option[Long] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(conf).exists(p)
    }
    if (!exists("doc_stats")) adoptDocStats(spark, path, buckets)
    val base = spark.read
      .schema("doc_id BIGINT, dl BIGINT, dbucket INT")
      .parquet(s"$path/doc_stats")
      .withColumn("row_batch", lit(-1L))
    if (!exists("doc_stats_ingested")) base
    else {
      val folded = foldedBatchIds(spark, path)
      val committed = batchIdsAt(spark, path, "meta_ingested")
        .diff(folded)
        .filter(b => beforeBatch.forall(b < _)).toSeq
      base.unionByName(
        spark.read
          .schema("doc_id BIGINT, dl BIGINT, dbucket INT, batch_id BIGINT")
          .parquet(s"$path/doc_stats_ingested")
          .filter(col("batch_id").isin(committed: _*))
          .select(col("doc_id"), col("dl"), col("dbucket"),
            col("batch_id").as("row_batch")))
    }
  }

  /** One-time sidecar ADOPTION for a pre-sidecar layout: derive
    * `(doc_id, dl)` per doc from the postings' column-pruned projection
    * (base → `doc_stats/`, committed ingest batches →
    * `doc_stats_ingested/`) and persist in the doc-bucketed layout.
    * Zero-token docs never reached the postings, so an adopted sidecar
    * cannot know them — identical to what the old postings scan
    * counted; sidecars written at build time cover them.
    */
  private def adoptDocStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      buckets: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(conf).exists(p)
    }
    val dbucket = pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")
      .as("dbucket")
    writeDistribution(
      readTextPostings(spark, path)
        .select(col("doc_id"), col("dl")).distinct()
        .select(col("doc_id"), col("dl"), dbucket),
      col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$path/doc_stats")
    if (exists("postings_ingested")) {
      spark.read
        .schema("token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
          "positions ARRAY<INT>, bucket INT, batch_id BIGINT")
        .parquet(s"$path/postings_ingested")
        .select(col("doc_id"), col("dl"), col("batch_id")).distinct()
        .select(col("doc_id"), col("dl"), dbucket, col("batch_id"))
        .transform(writeDistribution(_, col("batch_id")))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(s"$path/doc_stats_ingested")
    }
  }

  /** DELETE vectors from a persisted IVF / IVF-PQ index — the
    * [[deleteFromTextIndex]] twin for the vector families: tombstoned
    * vec_ids are anti-joined out of celled ∪ ingested by
    * [[readIvfIndex]] (broadcast — deletion-rate-sized), so every probe
    * path (batch, serving, streaming, ADC) stops returning them
    * immediately; the drift-gated rebuilds and [[compactIvfIndex]] fold
    * them physically and drop the layouts. No corpus constants exist
    * here, so replays are idempotent by the dynamic overwrite alone.
    * Like the text twin, deletion is BATCH-SCOPED: the tombstone masks
    * only rows from batches ≤ `batchId`, so a later [[appendIvfIndex]]
    * of the same vec_id resurrects it without waiting for a
    * compaction/rebuild (re-add = delete → append). A replay of a batch
    * a compaction/rebuild already folded is skipped via the `folded`
    * ledger — it would otherwise mask the folded base rows.
    */
  def deleteFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      vecIds: DataFrame,
      batchId: Long): Unit = {
    val root = resolveIndexRoot(spark, rawPath)
    if (foldedBatchIds(spark, root).contains(batchId)) return
    // the batch size rides the pin job itself (Dataset.observe — r18):
    // the former ids.count() was a second job over the just-pinned rows
    val nObs = Observation()
    val ids = vecIds.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    writeTombstoneBatch(spark, root, ids,
      nObs.get("n").asInstanceOf[Long], 0L, batchId)
  }

  /** DELETE vectors from a persisted LSH index — tombstones mask
    * BOTH sides of the layout ([[readLshIndex]]): the postings (so
    * probes stop surfacing the ids) and the signed table (so the rerank
    * never resurrects them). Batch-scoped like the IVF twin: a later
    * [[appendLshIndex]] of the same vec_id resurrects it;
    * [[compactLshIndex]] folds physically and ledgers the batch.
    */
  def deleteFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecIds: DataFrame,
      batchId: Long): Unit = {
    val root = resolveIndexRoot(spark, path)
    if (foldedBatchIds(spark, root).contains(batchId)) return
    // batch size observed on the pin job — see [[deleteFromIvfIndex]]
    val nObs = Observation()
    val ids = vecIds.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    writeTombstoneBatch(spark, root, ids,
      nObs.get("n").asInstanceOf[Long], 0L, batchId)
  }

  /** Batch ids of the visible files in layout `sub` at `root`. */
  private def batchIdsAt(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      sub: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
    TinyParquet.batchIds(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Every batch id a fold of the RESOLVED `root` absorbs into its
    * `folded` ledger: the ledger so far, the batches of the family's
    * ingest layout (`meta_ingested` commit records for text, the
    * `ingested` / `signed_ingested` data for IVF / LSH) and the
    * committed tombstone batches — so a post-fold replay of any of them
    * is skipped, not re-applied.
    */
  private def absorbedBatchIds(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      ingestLayout: String): Set[Long] =
    foldedBatchIds(spark, root) ++ batchIdsAt(spark, root, ingestLayout) ++
      batchIdsAt(spark, root, "tombstones_meta")

  /** Fold the [[appendTextIndex]] ingested layout back into the base
    * postings — the maintenance pass of the text leg: high ingest rates
    * leave one file per touched (bucket, batch) directory and those
    * small files dominate probe I/O. The fold commits GENERATIONALLY
    * ([[commitGeneration]], as every fold does): the full compacted
    * index (postings + meta with the summed corpus constants + the
    * doc-stats sidecar) lands in a fresh `gen-N/` and one `_SUCCESS`
    * marker publishes it — never a multi-rename window (an earlier
    * version swapped postings and meta via sequential renames and
    * deleted the ingested layouts after; a crash mid-sequence left the
    * folded postings AND the ingested batches both live, silently
    * double-counting df/tf). Queries before and after are bit-identical
    * (spec-asserted). The committed generation carries a cumulative
    * `folded` ledger of every batch id absorbed into base postings, so a
    * post-compaction replay of an old micro-batch is skipped by
    * [[appendTextIndex]] instead of double-counting. Single-maintainer
    * assumption as documented on [[appendTextIndex]]. Returns (posting
    * rows after compaction, from the new generation's parquet footers;
    * ingested files folded).
    */
  def compactTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): (Long, Long) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val path = resolveIndexRoot(spark, rawPath)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val ingested = new org.apache.hadoop.fs.Path(s"$path/postings_ingested")
    val tombs = new org.apache.hadoop.fs.Path(s"$path/tombstones_meta")
    // a delete-only state (tombstones, no appended batches) still has
    // physical work to fold — only the fully-clean state is a no-op
    if (!fs.exists(ingested) && !fs.exists(tombs)) {
      (TinyParquet.rowCount(conf, s"$path/postings"), 0L)
    } else {
      val nf = TinyParquet.visibleFiles(fs, ingested).size.toLong
      val idx = readTextIndex(spark, rawPath)
      // the BUILD-time occupancy baseline survives the fold — drift is
      // measured from build, and compaction relocates files, not rows
      // (the [[lshOccupancyDrift]] stance: census identical across
      // compaction, spec-asserted). Pre-census layouts adopt their base
      // occupancy first
      adoptBuildCensus(spark, path, Seq("bucket"),
        readTextPostings(spark, path))
      val genDir = commitGeneration(spark, rawPath,
          nextGeneration(spark, rawPath)) { genDir =>
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
        val statsView = docStatsLayers(spark, path, idx.buckets)
        val genStats = committedTombstones(spark, path, "doc_id") match {
          case None => statsView.drop("row_batch")
          case Some((tombs, _, _)) =>
            maskTombstones(statsView, "doc_id", tombs)
        }
        writeDistribution(genStats, col("dbucket"))
          .write.mode("overwrite").partitionBy("dbucket")
          .parquet(s"$genDir/doc_stats")
        carryTables(spark, path, genDir, "build_census")
        // the FOLDED-BATCH ledger: ids whose effects now live in this
        // generation's base layout (cumulative across compactions) — a
        // micro-batch REPLAYED after its compaction (restart from an old
        // checkpoint) must be recognized and skipped by
        // [[appendTextIndex]] (docs would re-enter and double-count
        // N/T/df) and by [[deleteFromTextIndex]] (the replayed tombstone
        // would mask the folded — possibly re-appended — base rows and
        // double-subtract constants). One 8-byte row per batch ever
        // folded: ledger size is batches-folded, never corpus-sized.
        // Tombstones fold PHYSICALLY here: the postings come from the
        // tombstone-applied view and the meta carries the adjusted
        // constants, so their layouts drop with the superseded root — a
        // replayed delete finds its docs absent and contributes zero
        // ([[deleteFromTextIndex]]'s replay rule)
        writeFoldedLedger(spark, genDir,
          absorbedBatchIds(spark, path, "meta_ingested"))
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
    * a probed bucket reads ≲ maxIngestedFiles/buckets extra files.
    *
    * Returns (compacted?, ingested files seen, committed batches seen).
    */
  def compactTextIndexIfNeeded(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String,
      maxIngestedFiles: Long = UsePersistedPolicy,
      maxBatches: Long = UsePersistedPolicy): (Boolean, Long, Long) = {
    val pol = readValvePolicy(spark, rawPath)
    val limFiles = resolveThreshold(
      maxIngestedFiles, pol.map(_.maxIngestedFiles), 64L)
    val limBatches = resolveThreshold(maxBatches, pol.map(_.maxBatches), 16L)
    val path = resolveIndexRoot(spark, rawPath)
    val ingested = new org.apache.hadoop.fs.Path(s"$path/postings_ingested")
    val fs = ingested.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = TinyParquet.visibleFiles(fs, ingested).size.toLong
    // committed ingest batches = commit records; the below-threshold
    // path stays job-free (the valves' idle cost on a micro-batch
    // cadence must be zero Spark jobs — r15 verdict)
    val nBatches = batchIdsAt(spark, path, "meta_ingested").size.toLong
    // tombstone batches count against the SAME valve: each one is a
    // broadcast anti-join + meta adjustment on every read until a
    // compaction folds it physically
    val (nTombBatches, _) = tombstonePressure(spark, path)
    if (nFiles <= limFiles && nBatches <= limBatches &&
        nTombBatches <= limBatches)
      (false, nFiles, nBatches)
    else {
      compactTextIndex(spark, rawPath)
      (true, nFiles, nBatches)
    }
  }

  /** Reload a persisted inverted index: postings as a partition-pruned
    * parquet table (NOT cached — the point of the layout is that a
    * query reads its probed bucket directories), meta collected (3
    * scalars). Docs added after the build ([[appendTextIndex]]) union
    * in from the ingested layout with the partition columns type-exact,
    * and their per-batch corpus constants SUM into N and T — BM25
    * scores over the incremental state equal a full rebuild's. ONLY
    * batches whose meta commit record landed are unioned (the batch_id
    * IN-list prunes the ingested partition directories) — a torn append
    * is invisible, never half-counted. Compacted generations resolve
    * via [[resolveIndexRoot]].
    */
  def readTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      rawPath: String): graft.operators.TextAnalysis.TextIndex = {
    val path = resolveIndexRoot(spark, rawPath)
    val raw = readTextIndexRaw(spark, path)
    // committed tombstones apply BATCH-SCOPED to the whole view (base +
    // ingested): a broadcast mask keeping rows with
    // `row_batch > tomb_batch` ([[maskTombstones]] — so a re-append
    // AFTER a delete resurrects the doc), plus the summed
    // corpus-constant adjustments — each delete batch counted exactly
    // the docs visible to it, and each re-append's meta row adds its
    // constants back, so BM25 over the logical state equals a rebuild
    // over the surviving docs ([[deleteFromTextIndex]])
    committedTombstones(spark, path, "doc_id") match {
      case None => raw.copy(postings = raw.postings.drop("row_batch"))
      case Some((tombs, nDel, tDel)) =>
        raw.copy(
          postings = maskTombstones(raw.postings, "doc_id", tombs),
          nDocs = raw.nDocs - nDel,
          totalTokens = raw.totalTokens - tDel)
    }
  }

  /** [[readTextIndex]] BEFORE tombstone application, at an already
    * RESOLVED root — the view [[deleteFromTextIndex]] counts its
    * contributions against (it applies only the EARLIER tombstone
    * batches itself; see its replay rule).
    */
  private def readTextIndexRaw(
      spark: org.apache.spark.sql.SparkSession,
      path: String): graft.operators.TextAnalysis.TextIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(conf).exists(p)
    }
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
    // row_batch rides on every row (−1 = base layout, else the ingest
    // batch id): the batch-scoped tombstone mask ([[maskTombstones]])
    // keys on it, and [[readTextIndex]] drops it before handing the
    // postings out
    val base = readTextPostings(spark, path)
      .withColumn("row_batch", lit(-1L))
    val (postings, nDocs, totalTokens, positional) =
      if (!exists("postings_ingested") || !exists("meta_ingested"))
        (base, TinyParquet.long(meta, "n_docs"),
          TinyParquet.long(meta, "total_tokens"),
          () => hasPositionsCol("postings"))
      else {
        // the meta rows are the batch commit records: sum the constants
        // AND restrict the posting union to exactly those batches —
        // minus any batch the folded ledger says already lives in the
        // base postings (an append that raced a compaction; see
        // [[appendTextIndex]]'s single-maintainer note). Commit records
        // are tiny: driver-side read, no Spark job (TinyParquet — r18)
        val folded = foldedBatchIds(spark, path)
        val committed = TinyParquet.readDir(conf, s"$path/meta_ingested")
          .map(r => (TinyParquet.long(r, "batch_id"),
            TinyParquet.long(r, "n_docs"),
            TinyParquet.long(r, "total_tokens")))
          .filterNot(r => folded.contains(r._1))
          .sortBy(_._1)
        val ids = committed.map(_._1)
        (base.unionByName(
          spark.read
            .schema("token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
              "positions ARRAY<INT>, bucket INT, batch_id BIGINT")
            .parquet(s"$path/postings_ingested")
            .filter(col("batch_id").isin(ids: _*))
            .select(col("token"), col("doc_id"), col("tf"), col("dl"),
              col("positions"), col("bucket"),
              col("batch_id").as("row_batch"))),
          TinyParquet.long(meta, "n_docs") + committed.map(_._2).sum,
          TinyParquet.long(meta, "total_tokens") + committed.map(_._3).sum,
          () => hasPositionsCol("postings") &&
            hasPositionsCol("postings_ingested"))
      }
    graft.operators.TextAnalysis.TextIndex(
      postings, nDocs, totalTokens,
      TinyParquet.int(meta, "buckets"), positional)
  }

  /** Read the latest committed generation of a [[mergeCensusTable]]
    * census table: `(census, batchId)` of the newest `gen-<batchId>/`
    * directory that finished its write (carries `_SUCCESS`). None if no
    * generation has ever committed. Partially-written generations (a
    * crash mid-write leaves no `_SUCCESS`) are invisible — the write
    * itself is the commit record, so there is no separate pointer file
    * to torn-update.
    */
  def readCensusTable(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(DataFrame, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      val gens = committedGenerations(fs, root)
      if (gens.isEmpty) None
      else {
        val latest = gens.max
        Some((spark.read.parquet(s"$path/gen-$latest"), latest))
      }
    }
  }

  /** Batch ids of every committed (`_SUCCESS`-carrying) `gen-<id>/`
    * directory under `root`. Non-numeric `gen-*` strays (a partial
    * rename, a hand-dropped dir) are ignored rather than throwing —
    * a stray must never blind the reader to the real generations.
    */
  private def committedGenerations(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    fs.listStatus(root).filter(_.isDirectory).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("gen-"))
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .flatMap(p => p.getName.stripPrefix("gen-").toLongOption)

  /** Fold one micro-batch's delta census (per-group HLL sketches from
    * [[graft.operators.Census.distinctSketch]]) into the persisted
    * census table — the transactional sink behind
    * [[graft.streaming.StreamCensus]]. Generation layout: each commit
    * writes the FULL merged census to a fresh `gen-<batchId>/`
    * directory (never in-place — the read of the previous generation
    * and the write of the next touch different paths), then deletes the
    * superseded generation. Exactly-once twice over: (a) the
    * transactional guard — a replayed micro-batch (foreachBatch
    * redelivers the same batchId after a crash) is skipped because a
    * generation at-or-past that id already committed; (b) the algebraic
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
    * [[commitGeneration]] (the `_SUCCESS` marker IS the commit record),
    * which then drops EVERY generation with a lower id — not just the
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
    val current = readCensusTable(spark, path)
    current match {
      case Some((_, last)) if batchId <= last => false
      case _ =>
        val merged = current match {
          case Some((base, _)) => mergeFn(base, delta)
          case None => delta
        }
        commitGeneration(spark, path, batchId)(
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
    * exactly-once: roots where this `batchId`'s tombstone commit record
    * already landed are SKIPPED — without that guard, a re-run after
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
    * batch was already folded by a compaction are skipped by the
    * ledger inside `deleteFrom*Index`. The sweep shares the indexes'
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
    * ([[committedTombstones]]), which is also why post-sweep re-crawls
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
    * A REPLAY AFTER A VALVE FOLD takes the folded-ledger skip: the
    * fold absorbed this batch id and deleted its id tables, so there is
    * nothing left to verify coverage against — the ledger entry itself
    * is trusted as proof the batch was this sweep's own earlier landing
    * (a crash between the fold and the raw drop replays exactly this
    * way; RetentionSweepSpec pins it). That trust is exactly why the
    * batch-id contract is absolute: a FOREIGN batch id reused by a
    * sweep is caught by the coverage check only while its commit record
    * is live — once a compaction folds it, the reuse is undetectable
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
    if (doomedDirs.nonEmpty) {
      // pin the expiring ids BEFORE any delete happens anywhere
      val ids = spark.read.parquet(doomedDirs.map(_.toString): _*)
        .select(col(idCol).cast("long").as(idCol))
        .distinct().localCheckpoint(true)
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
      def landed(path: String): Boolean = {
        val r = resolveIndexRoot(spark, path)
        val inTombs = batchIdsAt(spark, r, "tombstones_meta").contains(batchId)
        // a stranded commit record (ids table gone — the physically-
        // folded strand [[committedTombstones]] tolerates) has nothing
        // left to verify against: the record itself proves the batch
        // landed, so skip without the coverage check
        val idsPath = new org.apache.hadoop.fs.Path(s"$r/tombstones")
        if (inTombs && idsPath
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(idsPath)) {
          val prior = spark.read.parquet(s"$r/tombstones")
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
        inTombs || foldedBatchIds(spark, r).contains(batchId)
      }
      textIndexes.filterNot(landed).foreach(p =>
        deleteFromTextIndex(spark, p,
          ids.select(col(idCol).as("doc_id")), batchId))
      ivfIndexes.filterNot(landed).foreach(p =>
        deleteFromIvfIndex(spark, p,
          ids.select(col(idCol).as("vec_id")), batchId))
      lshIndexes.filterNot(landed).foreach(p =>
        deleteFromLshIndex(spark, p,
          ids.select(col(idCol).as("vec_id")), batchId))
    }
    // hands-off maintenance on EVERY registered root, dropped
    // partitions or not (see scaladoc): the archival lineage whose only
    // writes are sweeps must fold its masks here or nowhere
    textIndexes.foreach(p =>
      compactTextIndexIfNeeded(spark, p, maxIngestedFiles, maxBatches))
    ivfIndexes.foreach(p =>
      compactIvfIndexIfNeeded(
        spark, p, maxIngestedFiles, maxBatches, maxMaskedIds))
    lshIndexes.foreach(p =>
      compactLshIndexIfNeeded(
        spark, p, maxIngestedFiles, maxBatches, maxMaskedIds))
    applyRetention(spark, rawTablePath, firstRetainedDate)
  }
}
