package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only profiling harness (not a driver contract file): for each named
  * query, runs it once warm then measures jobs / stages / tasks / shuffle
  * bytes / wall seconds, and optionally dumps `.explain("formatted")` to a
  * file. Used to decide WHERE the bench time goes (at sf0.1 the corpus is
  * ~17 MB, so job count and exchange count dominate wall time — the same
  * quantities that dominate at 100 TB for the opposite reason).
  *
  * Usage: JobProfile <query1,query2,...|ALL> [explainOutDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names0 = args(0)
    val explainDir = if (args.length > 1) Some(args(1)) else None
    val spark = SparkSession.builder()
      .master(s"local[${LocalCpus.n}]")
      .config("spark.sql.shuffle.partitions", LocalCpus.n)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val names =
      if (names0 == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else names0.split(",").toSeq
    def force(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(); ()
    }
    println(f"${"query"}%-38s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s")
    for (name <- names) {
      try force(name) catch { case e: Throwable =>
        println(s"WARMFAIL $name: ${e.getMessage.take(120)}") }
      explainDir.foreach { d =>
        new java.io.File(d).mkdirs()
        val df = SparkEntry.queries(name)(spark, sfDir)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$d/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0L); shufWrite.set(0L)
      val t0 = System.nanoTime()
      val err = try { force(name); None } catch {
        case e: Throwable => Some(e.getMessage.take(100)) }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a moment to drain
      Thread.sleep(150)
      println(f"$name%-38s $sec%7.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${shufRead.get / 1e6}%9.2f ${shufWrite.get / 1e6}%9.2f" +
        err.map(e => s"  ERR $e").getOrElse(""))
    }
    spark.stop()
  }
}
