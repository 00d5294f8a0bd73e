package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Ad-hoc single-query correctness dump for local oracle iteration (not a
  * driver contract file): writes `outDir/<name>.parquet` and
  * `outDir/<name>.sql` (the registered DuckDB oracle, if any) so the
  * DuckDB compare can be replayed by hand before the driver runs it.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val name   = args(0)
    val sfDir  = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = SparkSession.builder()
      .master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    SparkEntry.oracleSql.get(name).foreach { sql =>
      Files.writeString(Paths.get(s"$outDir/$name.sql"), sql)
    }
    spark.stop()
  }
}
