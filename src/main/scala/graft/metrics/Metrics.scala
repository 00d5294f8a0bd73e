package graft.metrics

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What Spark did while a body ran. Every field but `cpuMs` and
  * `compileMs` is a count that does not depend on the host's load.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, cpuMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    compiles: Long, compileMs: Long) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, cpuMs - o.cpuMs,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    compiles - o.compiles, compileMs - o.compileMs)

  /** (key, value) pairs in a fixed order: the keys of `bench_full.json`. */
  def fields: Seq[(String, Long)] = Counters.keys.zip(
    productIterator.map(_.asInstanceOf[Long]).toSeq)

  def show: String = fields.map { case (k, v) => s"$k=$v" }.mkString(" ")
}

object Counters {
  val keys: Seq[String] = Seq("jobs", "stages", "tasks", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "compiles", "compile_ms")
}

/** Running totals from the listener bus. Deltas of two drained snapshots
  * attribute work to the body that ran between them.
  */
private final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, cpuNs = new AtomicLong
  private val shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** The compile count comes from `CodegenMetrics`' histogram, whose count
    * is exact; its time samples are a decaying reservoir, so the
    * milliseconds come from `CodeGenerator`'s exact nanosecond total.
    * Both are per JVM, like the codegen cache they describe.
    */
  def snapshot(): Counters = Counters(
    jobs.get, stages.get, tasks.get, cpuNs.get / 1000000L,
    shuffleRead.get, shuffleWrite.get, spill.get,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1000000L)
}

/** The one measurement layer: wall seconds, the error a body threw, and
  * the Spark counters it caused.
  */
object Metrics {

  private var installed: Option[(SparkContext, CountingListener)] = None

  /** The listener of `sc`, registered on first use. */
  private def listener(sc: SparkContext): CountingListener = synchronized {
    installed match {
      case Some((s, l)) if s eq sc => l
      case _ =>
        val l = new CountingListener
        sc.addSparkListener(l)
        installed = Some(sc -> l)
        l
    }
  }

  private def drained(sc: SparkContext, l: CountingListener): Counters = {
    GraftShims.drainListenerBus(sc)
    l.snapshot()
  }

  /** Run `body` once: (seconds, error, counters). A failing body must
    * surface its error, not time as ~0 and "improve" a total. Seconds stop
    * when `body` returns; the counters are read after the listener bus has
    * drained, so two calls in a row never share a job.
    */
  def measure(spark: SparkSession)(
      body: => Unit): (Double, Option[String], Counters) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val before = drained(sc, l)
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch {
        case e: Throwable => Some(
          e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").take(200))
      }
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, err, drained(sc, l) - before)
  }

  /** Execute a plan as registered and return its row count. A plain
    * `df.count()` plants a COUNT on top and lets the optimizer prune the
    * plan under it: a left outer join whose right side is unique-keyed is
    * eliminated, so a "per-row table LEFT JOIN per-key aggregate" query
    * would be measured with its dominant branch never executing. `toRdd`
    * executes the plan exactly as `Verify`'s parquet write does.
    */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
