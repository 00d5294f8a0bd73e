package graft
import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer for local plan iteration (not a driver
  * contract file): runs one named SparkEntry query N times after warm-up.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    // toRdd.count() executes the registered plan as-is; df.count() would
    // let the optimizer prune it (see Bench.force)
    def force(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count(); () }
    force()
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      force()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"BENCHONE $name ${times.map(t => f"$t%.2f").mkString(" ")}")
    spark.stop()
  }
}
