package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** A serving query holds no keyed state: after a restart its checkpoint
    * has offset and commit logs and never a `state/` store, so requests
    * leave nothing behind that grows with their count.
    */
  def assertNoStateStore(checkpoint: java.nio.file.Path): Unit = {
    val children = Option(checkpoint.toFile.list()).map(_.toSet)
      .getOrElse(Set.empty)
    assert(Set("offsets", "commits").subsetOf(children),
      s"checkpoint must hold its logs, saw $children")
    assert(!children.contains("state"),
      s"a serving checkpoint must not grow a state store, saw $children")
  }

  /** Delete the newest entry of the index commit log at `dir`: exactly
    * the state a crash after the data write, before the entry, leaves.
    * Goes through the Hadoop file system so the entry's checksum file
    * goes with it.
    */
  def dropNewestLogEntry(dir: String): Unit = {
    val log = new org.apache.hadoop.fs.Path(s"$dir/_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = fs.listStatus(log).map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json")).maxBy(_.getName)
    assert(fs.delete(newest, false))
  }
}
