package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

import graft.sinks.Sink.ValvePolicy

/** The commit log of one persisted index path: `<rawPath>/_log/` holds
  * one JSON entry per commit, named by its zero-padded sequence number
  * so names sort in commit order. Every commit under [[Sink]] is one
  * entry appended here, written after the data it commits:
  *
  *   - `build`: a fresh build of the flat layout at the raw path;
  *   - `add`: one ingest batch (text adds carry the batch's corpus
  *     constants `n_docs` and `total_tokens`);
  *   - `tombstone`: one delete batch (`n_ids` masked ids and the text
  *     index's `adj` token adjustment);
  *   - `fold`: a generation `gen-<gen>/` written by a fold, rebuild or
  *     census merge, with every batch id folds have absorbed so far;
  *   - `policy`: the index's [[Sink.ValvePolicy]].
  *
  * The one rule: what the newest `build` or `fold` entry and the
  * entries after it say is committed; nothing else is. A crash before
  * an entry leaves the data it would have committed invisible, and a
  * replay of the same call lands it once. `build` and `fold` entries
  * also carry the policy live when they were written, so the entries
  * before them are dropped. The directory name starts with `_`, so
  * Spark readers and [[TinyParquet.visibleFiles]] never list it.
  */
private[graft] object IndexLog {

  sealed trait Entry
  final case class Build(policy: Option[ValvePolicy]) extends Entry
  final case class Add(batch: Long, nDocs: Long = 0L, totalTokens: Long = 0L)
      extends Entry
  final case class Tombstone(batch: Long, nIds: Long, adj: Long) extends Entry
  final case class Fold(gen: Long, absorbed: Set[Long],
      policy: Option[ValvePolicy]) extends Entry
  final case class Policy(policy: ValvePolicy) extends Entry

  /** The log of `rawPath` as read once, in commit order. */
  final case class Snapshot(rawPath: String, entries: Vector[(Long, Entry)]) {
    private val baseAt = entries.lastIndexWhere(e =>
      e._2.isInstanceOf[Build] || e._2.isInstanceOf[Fold])
    private val live = entries.drop(baseAt + 1).map(_._2)
    private val base = entries.lift(baseAt).map(_._2)

    /** Whether a build or a fold has committed here. */
    def isIndex: Boolean = base.nonEmpty

    /** The generation the newest fold committed, if any. */
    def gen: Option[Long] = base.collect { case f: Fold => f.gen }

    /** The live root: the newest fold's `gen-<gen>/`, else the raw
      * path. Fails fast when nothing was ever built here.
      */
    def root: String = {
      require(isIndex,
        s"$rawPath holds no committed index: it has no commit log " +
          "(_log/), so it was never built or was written before the log " +
          "existed - rebuild it with the matching Sink.write*Index")
      gen.fold(rawPath)(g => s"$rawPath/gen-$g")
    }

    /** Every batch id a fold has absorbed. */
    def absorbed: Set[Long] = base.collect { case f: Fold => f.absorbed }
      .getOrElse(Set.empty)

    /** The committed ingest and delete batches not yet folded. */
    val adds: Vector[Add] = live.collect { case a: Add => a }
    val tombstones: Vector[Tombstone] = live.collect { case t: Tombstone => t }

    /** Whether an append (or a delete) of `batch` already landed. */
    def hasAdd(batch: Long): Boolean =
      absorbed(batch) || adds.exists(_.batch == batch)
    def hasTombstone(batch: Long): Boolean =
      absorbed(batch) || tombstones.exists(_.batch == batch)

    /** Whether any batch waits for a fold. */
    def pending: Boolean = adds.nonEmpty || tombstones.nonEmpty

    /** The next index fold: its generation and its absorbed set. */
    def nextGen: Long = gen.getOrElse(0L) + 1
    def absorbedByFold: Set[Long] =
      absorbed ++ adds.map(_.batch) ++ tombstones.map(_.batch)

    /** The live [[Sink.ValvePolicy]], if one was declared. */
    def policy: Option[ValvePolicy] = entries.reverseIterator.map(_._2)
      .collectFirst {
        case Policy(p) => Some(p)
        case Build(p) => p
        case Fold(_, _, p) => p
      }.flatten
  }

  private val mapper = new ObjectMapper()

  private def logDir(rawPath: String) = new Path(rawPath, "_log")

  private def entryName(seq: Long): String = f"$seq%020d.json"

  /** Read the log of `rawPath`: empty when there is none. */
  def read(spark: SparkSession, rawPath: String): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = logDir(rawPath)
    val fs = dir.getFileSystem(conf)
    val entries =
      if (!fs.exists(dir)) Vector.empty
      else fs.listStatus(dir).toVector.map(_.getPath)
        .filter(_.getName.matches("\\d{20}\\.json"))
        .map { p =>
          val in = fs.open(p)
          val node = try mapper.readTree(in) finally in.close()
          p.getName.stripSuffix(".json").toLong -> decode(node, p)
        }.sortBy(_._1)
    Snapshot(rawPath, entries)
  }

  /** Append `entry` to the log `log` was read from and return the log
    * with it. The entry is written to a dot-temp file and renamed into
    * place without overwrite, so a reader sees a whole entry or none, and
    * a second writer of the same sequence number fails. A `build` or
    * `fold` entry then drops the entries before it.
    */
  def commit(spark: SparkSession, log: Snapshot, entry: Entry): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = logDir(log.rawPath)
    val fs = dir.getFileSystem(conf)
    val fc = FileContext.getFileContext(fs.getUri, conf)
    val seq = log.entries.lastOption.fold(0L)(_._1 + 1)
    val tmp = fs.makeQualified(new Path(dir, s".${entryName(seq)}.tmp"))
    val out = fc.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(mapper.writeValueAsString(encode(entry)).getBytes(UTF_8))
    finally out.close()
    fc.rename(tmp, fs.makeQualified(new Path(dir, entryName(seq))),
      Options.Rename.NONE)
    entry match {
      case _: Build | _: Fold =>
        log.entries.foreach(e => fs.delete(new Path(dir, entryName(e._1)), false))
        Snapshot(log.rawPath, Vector(seq -> entry))
      case _ => Snapshot(log.rawPath, log.entries :+ (seq -> entry))
    }
  }

  private def encode(entry: Entry): ObjectNode = {
    val n = mapper.createObjectNode()
    def withPolicy(p: Option[ValvePolicy]): ObjectNode = {
      p.foreach { v =>
        n.put("max_ingested_files", v.maxIngestedFiles)
          .put("max_batches", v.maxBatches)
          .put("max_masked_ids", v.maxMaskedIds)
      }
      n
    }
    entry match {
      case Build(p) => withPolicy(p).put("op", "build")
      case Add(b, nDocs, tokens) =>
        n.put("op", "add").put("batch", b)
        if (nDocs != 0L || tokens != 0L)
          n.put("n_docs", nDocs).put("total_tokens", tokens)
        n
      case Tombstone(b, nIds, adj) =>
        n.put("op", "tombstone").put("batch", b).put("n_ids", nIds)
          .put("adj", adj)
      case Fold(gen, absorbed, p) =>
        val ids = n.put("op", "fold").put("gen", gen).putArray("absorbed")
        absorbed.toSeq.sorted.foreach(id => ids.add(id))
        withPolicy(p)
      case Policy(p) => withPolicy(Some(p)).put("op", "policy")
    }
  }

  private def decode(n: JsonNode, at: Path): Entry = {
    def long(k: String): Long = {
      val v = n.get(k)
      require(v != null && v.canConvertToLong, s"log entry $at: no integer '$k'")
      v.asLong
    }
    def policy: Option[ValvePolicy] =
      if (!n.has("max_batches")) None
      else {
        val p = ValvePolicy(long("max_ingested_files"), long("max_batches"),
          long("max_masked_ids"))
        Sink.requireValidPolicy(p, s"log entry $at")
        Some(p)
      }
    n.path("op").asText match {
      case "build" => Build(policy)
      case "add" => Add(long("batch"), n.path("n_docs").asLong(0L),
        n.path("total_tokens").asLong(0L))
      case "tombstone" => Tombstone(long("batch"), long("n_ids"), long("adj"))
      case "fold" => Fold(long("gen"),
        n.path("absorbed").elements().asScala.map(_.asLong).toSet, policy)
      case "policy" => Policy(policy.getOrElse(
        throw new IllegalArgumentException(s"log entry $at: no policy fields")))
      case other =>
        throw new IllegalArgumentException(s"log entry $at: unknown op '$other'")
    }
  }
}
