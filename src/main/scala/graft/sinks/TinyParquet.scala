package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Driver-side reader for TINY parquet METADATA tables (corpus
  * constants, centroid/codebook tables — never data), and the one place
  * that decides which files under a persisted index layout are
  * visible. Which batches are committed is the commit log's decision
  * ([[IndexLog]]), not a listing's.
  *
  * Why it exists (r17 verdict #1): every `readTextIndex`/`readIvfIndex`
  * call paid 2–4 driver `collect()` jobs on parquet tables of a few
  * rows — at the local ~50–90 ms/job floor those collects, recurring
  * ~5× inside each lifecycle query, dominated the bench tail. A
  * scheduler round-trip to launch one task that reads one 4 KB footer
  * is pure overhead at EVERY scale: these tables are metadata (nlist
  * rows, one row of corpus constants), and metadata belongs to the
  * driver exactly like a table format's manifest files. Reading them
  * in-process removes the job without touching the on-disk format.
  *
  * VISIBILITY RULE (the only one; every metadata read, valve file
  * census and compaction file count goes through [[visibleFiles]]): a
  * file under a layout root is visible iff its name ends in `.parquet`
  * and no path segment below the root starts with `_` or `.` — Spark's
  * `InMemoryFileIndex` hidden-path rule, so the `_temporary/` and
  * `.spark-staging-*` leftovers of a crashed write, `_SUCCESS` and
  * `.crc` files never count. Segments above the root are not examined:
  * an index living under a `batch_id=9/` or `_scratch/` directory is
  * read like any other. Uncommitted is invisible.
  *
  * Scope guard: callers must only point [[readDir]] at tables that are
  * tiny BY CONSTRUCTION (bounded by nlist / m·k / batch count — never
  * by corpus size). Data tables (postings, celled, tombstone ID lists)
  * keep their distributed reads.
  *
  * Supported schema: flat rows of INT32 / INT64 / DOUBLE / FLOAT /
  * BOOLEAN / BINARY(string) plus one-level LIST of those (Spark's
  * 3-level list layout) — everything the index meta layouts use.
  * Hive-style partition directories (`k=v`) surface as LONG columns
  * when numeric, STRING otherwise, mirroring how the former
  * `spark.read.parquet(...).select(col("batch_id").cast("long"))`
  * call sites consumed them.
  */
private[graft] object TinyParquet {

  /** One decoded row: field name → Long | Int | Double | Float |
    * Boolean | String | Array[Byte] | Seq[Any] | null.
    */
  type Row = Map[String, Any]

  /** Every visible `*.parquet` file under `root` (the rule in the
    * object scaladoc), qualified and path-sorted. Empty when `root` is
    * missing. A `listStatus` walk that never enters a hidden directory,
    * as `InMemoryFileIndex` lists: the recursive `listFiles` builds a
    * `LocatedFileStatus` per file, and on the local file system without
    * native Hadoop that forks a process per file to read permissions
    * (about 11 ms per file, measured on a 4-vCPU VM).
    */
  def visibleFiles(fs: FileSystem, root: Path): Seq[Path] = {
    def walk(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (s.isDirectory) walk(s.getPath)
      else if (name.endsWith(".parquet")) Seq(s.getPath)
      else Nil
    }
    val qualifiedRoot = fs.makeQualified(root)
    if (!fs.exists(qualifiedRoot)) Nil
    else walk(qualifiedRoot).sortBy(_.toString)
  }

  /** Σ footer row counts of the [[visibleFiles]] under `dir` — an exact
    * row count of a just-written table without a Spark job.
    */
  def rowCount(conf: Configuration, dir: String): Long = {
    val root = new Path(dir)
    visibleFiles(root.getFileSystem(conf), root).iterator.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Every row of every [[visibleFiles]] file under `dir`, partition-
    * directory columns included. Empty when the directory is missing or
    * holds no visible parquet files. Files are visited path-sorted for
    * determinism; callers needing a row order sort by key columns (the
    * former `.orderBy(...).collect()` contract).
    */
  def readDir(conf: Configuration, dir: String): Seq[Row] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root)
    visibleFiles(fs, qualifiedRoot).iterator.flatMap { f =>
      val partCols = partitionValues(qualifiedRoot, f)
      readFile(conf, f).map(_ ++ partCols)
    }.toSeq
  }

  /** Hive-style `k=v` directory names between `root` and `file` (both
    * qualified), found by walking up to `root` by path equality, so
    * nothing above the root is ever read as a partition value.
    */
  private def partitionValues(root: Path, file: Path): Map[String, Any] =
    Iterator.iterate(file.getParent)(_.getParent)
      .takeWhile(d => d != null && d != root)
      .map(_.getName)
      .filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val value: Any =
          if (v.nonEmpty && v.matches("-?\\d+")) v.toLong else v
        k -> value
      }.toMap

  private def readFile(conf: Configuration, file: Path): Seq[Row] = {
    val reader: ParquetReader[Group] = ParquetReader
      .builder(new GroupReadSupport(), file)
      .withConf(conf)
      .build()
    try {
      val rows = collection.mutable.ArrayBuffer.empty[Row]
      var g = reader.read()
      while (g != null) {
        rows += groupToRow(g)
        g = reader.read()
      }
      rows.toSeq
    } finally reader.close()
  }

  private def groupToRow(g: Group): Row = {
    val schema = g.getType
    schema.getFields.asScala.zipWithIndex.map { case (f, i) =>
      val v: Any =
        if (g.getFieldRepetitionCount(i) == 0) null
        else if (f.isPrimitive) primitive(g, i, 0, f.asPrimitiveType())
        else listValues(g.getGroup(i, 0), f.getName)
      f.getName -> v
    }.toMap
  }

  /** Spark's 3-level list: group (LIST) { repeated group list
    * { <primitive> element } }.
    */
  private def listValues(lg: Group, name: String): Seq[Any] = {
    require(lg.getType.getFieldCount == 1 &&
      !lg.getType.getType(0).isPrimitive,
      s"TinyParquet: field '$name' is not a standard LIST group")
    val n = lg.getFieldRepetitionCount(0)
    (0 until n).map { j =>
      val eg = lg.getGroup(0, j)
      require(eg.getType.getFieldCount == 1 &&
        eg.getType.getType(0).isPrimitive,
        s"TinyParquet: field '$name' has a nested non-primitive element")
      if (eg.getFieldRepetitionCount(0) == 0) null
      else primitive(eg, 0, 0, eg.getType.getType(0).asPrimitiveType())
    }
  }

  private def primitive(
      g: Group, fieldIdx: Int, repIdx: Int, t: PrimitiveType): Any =
    t.getPrimitiveTypeName match {
      case INT64 => g.getLong(fieldIdx, repIdx)
      case INT32 => g.getInteger(fieldIdx, repIdx)
      case DOUBLE => g.getDouble(fieldIdx, repIdx)
      case FLOAT => g.getFloat(fieldIdx, repIdx)
      case BOOLEAN => g.getBoolean(fieldIdx, repIdx)
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        if (t.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.stringType())
          g.getBinary(fieldIdx, repIdx).toStringUsingUTF8
        else g.getBinary(fieldIdx, repIdx).getBytes
      case other =>
        throw new IllegalArgumentException(
          s"TinyParquet: unsupported primitive type $other " +
            s"(field ${t.getName})")
    }

  // ---- typed accessors (call-site sugar; metadata never carries
  // ---- nulls in these fields, so a miss is a caller bug and throws)

  def long(r: Row, name: String): Long = r(name) match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(
      s"TinyParquet: field '$name' is not integral: $other")
  }

  def int(r: Row, name: String): Int = long(r, name).toInt

  def string(r: Row, name: String): String = r(name).asInstanceOf[String]

  def doubles(r: Row, name: String): Array[Double] =
    r(name).asInstanceOf[Seq[Any]].iterator
      .map(_.asInstanceOf[Double]).toArray

  def longs(r: Row, name: String): Array[Long] =
    r(name).asInstanceOf[Seq[Any]].iterator
      .map(_.asInstanceOf[Long]).toArray
}
