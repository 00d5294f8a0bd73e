package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `op` is the measured operation (epoch, cycle or
  * pass) it belongs to, -1 outside the measured phase.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's calls into the program's
  * layers. Spans are recorded only when tracing is on; `op` times the
  * measured operations either way. Spans opened on another thread (the
  * stream-execution thread running `foreachBatch`) attach to the
  * operation in flight, which the closed loop makes unique.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  @volatile private var opSpan = -1
  @volatile private var opIndex = -1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  def span[T](name: String)(body: => T): T = spanNamed(body)(_ => name)

  /** A span whose name depends on what the call returned. */
  def spanNamed[T](body: => T)(name: T => String): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(opSpan)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      var result: Option[T] = None
      try {
        result = Some(body)
        result.get
      } finally {
        record(Span(id, result.map(name).getOrElse("failed"), t0, System.nanoTime(),
          parent, opIndex))
        stack.set(stack.get.tail)
      }
    }

  /** Runs measured operation `i` and returns its wall time in ns. */
  def op(i: Int)(body: => Unit): Long = {
    val id = ids.incrementAndGet()
    opSpan = id
    opIndex = i
    val t0 = System.nanoTime()
    try body
    finally {
      opSpan = -1
      opIndex = -1
    }
    val t1 = System.nanoTime()
    if (enabled) record(Span(id, "op", t0, t1, -1, i))
    t1 - t0
  }

  /** Runs `body` outside operation `i`'s timed interval but counts its
    * spans as that operation's: the traced run's separate calls into a
    * layer that the program calls from inside its own functions.
    */
  def beside[T](i: Int)(body: => T): T = {
    opIndex = i
    try body finally opIndex = -1
  }

  /** A span reconstructed after the fact (a streaming trigger, from its
    * progress report); it is attached to the operation it falls in.
    */
  def addSpan(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) record(Span(ids.incrementAndGet(), name, startNs, endNs, -2, -2))

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans with reconstructed ones attached to their operation, and every
    * span re-parented to the innermost span of its operation that contains
    * it, so that self times subtract what ran inside.
    */
  def resolved: Seq[Span] = {
    val ss = all
    val ops = ss.filter(_.name == "op")
    val attached = ss.filter(_.name != "op").flatMap { s =>
      if (s.op != -2) Some(s)
      else {
        val mid = (s.startNs + s.endNs) / 2
        ops.find(o => o.startNs <= mid && mid <= o.endNs)
          .map(o => s.copy(op = o.op, parent = o.id))
      }
    }
    val byOp = attached.groupBy(_.op)
    val reparented = attached.map { s =>
      val inner = byOp(s.op).filter(p => p.id != s.id &&
        p.startNs <= s.startNs && s.endNs <= p.endNs &&
        (p.endNs - p.startNs) > (s.endNs - s.startNs))
      if (inner.isEmpty) s
      else s.copy(parent = inner.minBy(p => p.endNs - p.startNs).id)
    }
    ops ++ reparented
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) {
          total += b - math.max(a, end)
          end = b
        }
      }
    total
  }

  /** Per span name: (count, total ms, self ms). */
  def summary(ss: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e6
      }.sum
      name -> ((group.length, group.map(_.ms).sum, self))
    }
  }

  /** Share of the operations' wall time that their spans cover. */
  def coverage(ss: Seq[Span]): Double = {
    val ops = ss.filter(_.name == "op")
    val inner = ss.filter(_.name != "op").groupBy(_.op)
    val cov = ops.map { o =>
      covered(inner.getOrElse(o.op, Nil).map(s => (s.startNs, s.endNs)),
        o.startNs, o.endNs)
    }.sum
    val total = ops.map(o => o.endNs - o.startNs).sum
    if (total == 0) 0.0 else cov.toDouble / total
  }

  def writeJson(path: java.nio.file.Path, workload: String, seed: Long): Unit = {
    val ss = resolved.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    sb ++= s"""{"workload":"$workload","seed":$seed,"coverage":${coverage(ss)},"summary":{"""
    sb ++= summary(ss).toSeq.sortBy(_._1).map { case (n, (c, tot, self)) =>
      s""""$n":{"count":$c,"total_ms":$tot,"self_ms":$self}"""
    }.mkString(",")
    sb ++= "},\"spans\":["
    sb ++= ss.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6},""" +
        s""""end_ms":${(s.endNs - t0) / 1e6},"parent":${s.parent},"op":${s.op}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Job, task and stage counters from the Spark listener bus. */
final class SparkCounters extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq("jobs", "tasks", "executor_cpu_ms",
    "executor_run_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "records_written", "stage_ms", "stage_longest_task_ms")
    .map(_ -> new AtomicLong(0)): _*)
  private val cpuNs = new AtomicLong(0)
  private val longest = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    longest.merge((e.stageId, e.stageAttemptId), e.taskInfo.duration,
      (a: Long, b: Long) => math.max(a, b))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      c("executor_run_ms").addAndGet(m.executorRunTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("records_written").addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (s <- info.submissionTime; f <- info.completionTime) {
      c("stage_ms").addAndGet(f - s)
      c("stage_longest_task_ms").addAndGet(
        Option(longest.remove((info.stageId, info.attemptNumber()))).getOrElse(0L))
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    c("executor_cpu_ms").set(cpuNs.get / 1000000L)
    c.map { case (k, v) => k -> v.get.toDouble }.toMap
  }
}

/** `StreamingQueryProgress.durationMs` summed over the batches numbered at
  * or above `from`, and each trigger reported to the trace as a span.
  */
final class StreamingCounters(trace: Trace) extends StreamingQueryListener {
  @volatile var from: Long = Long.MaxValue
  private val sums = mutable.HashMap[String, Long]()
  // maps the wall clock of progress reports onto System.nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.batchId >= from) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      sums.synchronized {
        d.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0L) + v }
        sums("batches") = sums.getOrElse("batches", 0L) + 1
      }
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val start = startMs * 1000000L + nanoOffset
      trace.addSpan("streaming.trigger", start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L)
    }
  }

  def totals: Map[String, Long] = sums.synchronized(sums.toMap)
}

/** Process-wide JVM readings. */
object Jvm {
  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time of the first live thread whose name starts with `prefix`. */
  def threadCpuNs(prefix: String): Long = {
    val mx = ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith(prefix))
      .map(t => mx.getThreadCpuTime(t.getId)).getOrElse(0L)
  }

  /** Heap in use after a full collection: what the process retains. The
    * pause between two collections lets Spark's cleaner drop the blocks of
    * datasets the first one found unreachable.
    */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
