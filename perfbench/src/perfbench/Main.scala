package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark workload. The harness calls `setup` once, then, until the
  * run's seconds are used, `prepare(i)` (not timed) and `op(i)` (timed) in
  * a closed loop, then `check`.
  */
trait Workload {
  /** Builds inputs and state and warms up. */
  def setup(): Unit
  /** Makes the inputs of operation `i`. */
  def prepare(i: Int): Unit = ()
  /** Runs operation `i` to its end. */
  def op(i: Int): Unit
  /** Traced runs only: separate calls after operation `i` into layers the
    * program calls from inside its own functions.
    */
  def after(i: Int): Unit = ()
  /** Checks every output against the reference computations; returns how
    * many of the `ops` operations produced a wrong result.
    */
  def check(ops: Int): Int
  /** This workload's per-layer metrics, per operation. */
  def layers(ops: Int, spans: Map[String, (Int, Double, Double)],
      spark: Map[String, Double]): Map[String, Double]
  def close(): Unit = ()
}

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, tmp: Path,
    streaming: StreamingCounters)

object Main {

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * metric of a layer the workload does not drive reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "config.build_router_ms" -> "ms",
    "router.fanout_ms" -> "ms", "router.branch_plans" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.driver_cpu_ms" -> "ms",
    "sink.write_ms" -> "ms", "sink.tables_written" -> "count",
    "sink.rows_landed" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.max_task_share" -> "ratio",
    "codegen.compile_ms" -> "ms", "codegen.setup_compile_ms" -> "ms",
    "codegen.max_method_bytes" -> "bytes",
    "index.append_ms" -> "ms", "index.valve_ms" -> "ms",
    "index.compact_ms" -> "ms", "index.compactions" -> "count",
    "index.ingested_files" -> "count",
    "index.read_ms" -> "ms", "textanalysis.bm25_batch_ms" -> "ms",
    "dedup.pairs_ms" -> "ms", "dedup.pairs" -> "count",
    "graph.cc_ms" -> "ms", "graph.cc_rounds" -> "count",
    "jvm.gc_ms" -> "ms", "trace.coverage" -> "ratio")

  val Workloads: Seq[String] =
    Seq("ingest_routes_wide", "ingest_jdbc_multitable", "text_index_append_serve",
      "dedup_clusters_batch")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <n> --trace <0|1> --tmp <dir> --out <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val tmp = Paths.get(arg("tmp")).toAbsolutePath
    val out = Paths.get(arg("out")).toAbsolutePath

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = sys.props.getOrElse("perfbench.cores", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"perfbench: session ready ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s after JVM start")

    val trace = new Trace(traced)
    val counters = new SparkCounters
    val streaming = new StreamingCounters(trace)
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(streaming)
    }
    val ctx = Ctx(spark, trace, seed, tmp, streaming)
    val w: Workload = workload match {
      case "ingest_routes_wide"      => new RoutesWide(ctx)
      case "ingest_jdbc_multitable"  => new JdbcMultiTable(ctx)
      case "text_index_append_serve" => new TextIndexAppendServe(ctx)
      case "dedup_clusters_batch"    => new DedupClusters(ctx)
    }

    try {
      w.setup()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(f"perfbench: set up $setupS%.2f s after JVM start")

      val sc = spark.sparkContext
      val spark0 = if (traced) counters.snapshot(sc) else Map.empty[String, Double]
      val compile0 = CodeGenerator.compileTime
      val gc0 = Jvm.gcMs
      val cpuNs = scala.collection.mutable.ArrayBuffer[Long]()
      val opNs = scala.collection.mutable.ArrayBuffer[Long]()
      // counters of the traced run's separate calls, kept out of the totals
      var aside = spark0.map { case (k, _) => k -> 0.0 }
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) {
        val i = opNs.length
        w.prepare(i)
        val cpu0 = Jvm.cpuNs
        opNs += trace.op(i)(w.op(i))
        cpuNs += Jvm.cpuNs - cpu0
        if (traced) {
          val a0 = counters.snapshot(sc)
          w.after(i)
          val a1 = counters.snapshot(sc)
          aside = aside.map { case (k, v) => k -> (v + a1(k) - a0(k)) }
        }
      }
      val gcMs = Jvm.gcMs - gc0
      val compileNs = CodeGenerator.compileTime - compile0
      val heapLiveMb = Jvm.liveHeapMb
      val ops = opNs.length
      val spark1 = if (traced) counters.snapshot(sc) else Map.empty[String, Double]

      System.err.println(s"perfbench: $ops operations, wall ms: " +
        opNs.map(n => f"${n / 1e6}%.0f").mkString(" ") + "; cpu ms: " +
        cpuNs.map(n => f"${n / 1e6}%.0f").mkString(" "))
      val failed = w.check(ops)

      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          Seq(
            ("setup_s", setupS, "s"),
            ("cpu_ms_per_op", median(cpuNs.map(_ / 1e6)), "ms"),
            ("heap_live_mb", heapLiveMb, "MB"))
        } else {
          val spans = trace.resolved
          trace.writeJson(out.resolve(s"trace-$workload-s$seed.json"), workload, seed)
          val d = spark1.map { case (k, v) => k -> (v - spark0(k) - aside(k)) }
          val common = Map(
            "spark.jobs" -> d("jobs") / ops,
            "spark.tasks" -> d("tasks") / ops,
            "spark.executor_cpu_ms" -> d("executor_cpu_ms") / ops,
            "spark.executor_run_ms" -> d("executor_run_ms") / ops,
            "spark.shuffle_write_bytes" -> d("shuffle_write_bytes") / ops,
            "spark.shuffle_read_bytes" -> d("shuffle_read_bytes") / ops,
            "spark.spill_bytes" -> d("spill_bytes") / ops,
            "spark.max_task_share" ->
              (if (d("stage_ms") > 0) d("stage_longest_task_ms") / d("stage_ms") else 0.0),
            "codegen.compile_ms" -> compileNs / 1e6 / ops,
            "codegen.setup_compile_ms" -> compile0 / 1e6,
            "codegen.max_method_bytes" ->
              org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble,
            "jvm.gc_ms" -> gcMs.toDouble / ops,
            "trace.coverage" -> trace.coverage(spans))
          val own = w.layers(ops, trace.summary(spans.filter(_.op >= 0)) ++
            trace.summary(trace.all.filter(_.op == -1)).map { case (k, v) => s"setup:$k" -> v },
            d)
          val all = common ++ own
          PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
        }
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": $ops, "failed": $failed, "metrics": {$body}}""")
    } finally {
      w.close()
      spark.stop()
    }
  }

  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
}
