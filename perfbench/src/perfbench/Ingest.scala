package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.EngineConfig
import graft.model.Message
import graft.operators.Router
import graft.sinks.Sink
import graft.streaming.StreamRoutes

/** The closed loop both ingest workloads share: a `MemoryStream` of message
  * envelopes feeds a started streaming query; one operation offers one
  * epoch of `EpochSize` messages and ends when the query has committed it,
  * and the next epoch is offered only then. `T` is what the generator knows
  * about each message that the check needs.
  */
abstract class IngestLoop[T](ctx: Ctx) extends Workload {
  import ctx._

  /** Epoch `e`: a pure function of the seed, so the check can remake it. */
  protected def epoch(e: Int): IndexedSeq[(Message, T)]
  protected def buildRouter(): Router
  protected def startQuery(messages: DataFrame): StreamingQuery
  /** Epochs offered at set-up, before timing starts. */
  protected def warmupEpochs: Int

  protected var router: Router = _
  /** Branch plans in the fan-outs the traced run counted, and how many. */
  protected var branchPlans = 0L
  protected var fanOutsCounted = 0L

  /** Counts the branches of one fan-out: the inputs of each table's union
    * (a table one branch feeds counts one).
    */
  protected def countBranches(out: Map[String, DataFrame]): Unit = {
    def leaves(p: LogicalPlan): Int = p match {
      case u: Union => u.children.map(leaves).sum
      case _ => 1
    }
    branchPlans += out.values.map(df => leaves(df.queryExecution.analyzed)).sum
    fanOutsCounted += 1
  }
  private val input = MemoryStream[Message](Encoders.product[Message], spark.sqlContext)
  private var query: StreamingQuery = _
  protected var next: IndexedSeq[Message] = _
  private var streamCpuNs = 0L

  private def offer(msgs: IndexedSeq[Message]): Unit = {
    input.addData(msgs)
    query.processAllAvailable()
  }

  def setup(): Unit = {
    router = trace.span("config.build_router")(buildRouter())
    query = startQuery(input.toDF())
    (0 until warmupEpochs).foreach(e => offer(epoch(e).map(_._1)))
    // one trigger per offered epoch, so batch ids count epochs from 0
    streaming.from = warmupEpochs
    streamCpuNs = -Jvm.threadCpuNs(IngestLoop.StreamThread)
  }

  override def prepare(i: Int): Unit =
    next = epoch(warmupEpochs + i).map(_._1)

  def op(i: Int): Unit = offer(next)

  /** Stops the query and remakes every epoch offered, for the check. */
  protected def stopAndReplay(ops: Int): IndexedSeq[(Message, T)] = {
    streamCpuNs += Jvm.threadCpuNs(IngestLoop.StreamThread)
    query.stop()
    (0 until warmupEpochs + ops).flatMap(epoch)
  }

  protected def loopLayers(ops: Int, spans: Map[String, (Int, Double, Double)],
      counters: Map[String, Double]): Map[String, Double] = {
    val d = streaming.totals
    def perEpoch(k: String) = d.getOrElse(k, 0L).toDouble / ops
    Map(
      "config.build_router_ms" -> spans.get("setup:config.build_router").map(_._2).getOrElse(0.0),
      "router.branch_plans" -> branchPlans.toDouble / math.max(1L, fanOutsCounted),
      "streaming.add_batch_ms" -> perEpoch("addBatch"),
      "streaming.query_planning_ms" -> perEpoch("queryPlanning"),
      "streaming.wal_commit_ms" -> perEpoch("walCommit"),
      "streaming.commit_offsets_ms" -> perEpoch("commitOffsets"),
      "streaming.driver_cpu_ms" -> streamCpuNs / 1e6 / ops,
      "sink.rows_landed" -> counters("records_written") / ops)
  }

  override def close(): Unit =
    if (query != null && query.isActive) query.stop()
}

object IngestLoop {
  val EpochSize = 1000
  val StreamThread = "stream execution thread"
}

/** `ingest_routes_wide`: two dozen overlapping `+`/`#` filters with
  * select-list transforms over two tables, built from TOML, routed by
  * `StreamRoutes.routedWriter` and landed with `Sink.writePartitionedByDate`
  * (parquet, append); unmatched messages land in `iot_raw`.
  */
final class RoutesWide(ctx: Ctx) extends IngestLoop[Double](ctx) {
  import ctx._
  import RoutesWide._

  private val lake = tmp.resolve("lake").toString

  /** Each message with the value its payload carries. */
  protected def epoch(e: Int): IndexedSeq[(Message, Double)] = {
    val r = Inputs.rng(seed, e)
    (0 until IngestLoop.EpochSize).map { j =>
      val seq = e.toLong * IngestLoop.EpochSize + j
      val (area, dev, metric) =
        (Areas(r.nextInt(Areas.length)), r.nextInt(10), Metrics(r.nextInt(Metrics.length)))
      val topic =
        if (r.nextInt(100) < 8) s"ext/$area/d$dev/$metric"
        else s"site/${r.nextInt(10)}/$area/d$dev/$metric"
      val v = Inputs.halfUnits(r, 500)
      (Inputs.message(topic, s"""{"v":$v,"seq":$seq}""", r.nextInt(3), seq), v)
    }
  }

  protected def buildRouter(): Router = EngineConfig.fromToml(toml).buildRouter(Map.empty)

  // the second epoch still runs a quarter slower than the later ones
  protected val warmupEpochs = 2

  protected def startQuery(messages: DataFrame): StreamingQuery =
    StreamRoutes.routedWriter(messages, router) { (table, rows) =>
      trace.span("sink.write") {
        Sink.writePartitionedByDate(rows, s"$lake/$table", "time", "append")
      }
    }.option("checkpointLocation", tmp.resolve("checkpoint").toString).start()

  // routedWriter calls Router.fanOut inside its foreachBatch body; the
  // traced run times the same call on the same epoch separately
  override def after(i: Int): Unit = {
    val batch = spark.createDataFrame(next).toDF()
    countBranches(trace.beside(i)(trace.span("router.fanout")(router.fanOut(batch))))
  }

  /** Compares the landed parquet, read back, with every offered message
    * routed by the reference matcher over the same filters: per table and
    * route the row count and value sum, and for `iot_raw` the row count
    * and payload characters.
    */
  def check(ops: Int): Int = {
    val expected = mutable.HashMap[(String, String), (Long, Double)]()
    var rawRows = 0L
    var rawChars = 0L
    stopAndReplay(ops).foreach { case (m, v) =>
      Checks.firstMatch(filters, m.topic) match {
        case -1 =>
          rawRows += 1
          rawChars += m.payload.length
        case i =>
          val key = (tableOf(i), routeName(i))
          val (n, s) = expected.getOrElse(key, (0L, 0.0))
          expected(key) = (n + 1, s + v)
      }
    }
    val got = Tables.flatMap { t =>
      spark.read.parquet(s"$lake/$t").groupBy("route")
        .agg(count(lit(1)), sum(col("value"))).collect()
        .map(row => (t, row.getString(0)) -> (row.getLong(1), row.getDouble(2)))
    }.toMap
    val raw = spark.read.parquet(s"$lake/${Router.RawTable}")
      .agg(count(lit(1)), sum(length(col("raw")))).head()
    val ok = got == expected.toMap && raw.getLong(0) == rawRows &&
      raw.getLong(1) == rawChars
    if (!ok) System.err.println(s"ingest_routes_wide: parquet read-back differs " +
      s"from the reference: got $got raw=$raw, expected $expected raw=($rawRows,$rawChars)")
    if (ok) 0 else ops
  }

  def layers(ops: Int, spans: Map[String, (Int, Double, Double)],
      counters: Map[String, Double]): Map[String, Double] = {
    def ms(n: String) = spans.get(n).map(_._2).getOrElse(0.0)
    loopLayers(ops, spans, counters) ++ Map(
      "router.fanout_ms" -> ms("router.fanout") / ops,
      "sink.write_ms" -> ms("sink.write") / ops,
      "sink.tables_written" -> spans.get("sink.write").map(_._1).getOrElse(0) / ops.toDouble)
  }
}

object RoutesWide {
  val Areas: IndexedSeq[String] = IndexedSeq("hall", "roof", "yard", "dock", "lab")
  val Metrics: IndexedSeq[String] = IndexedSeq("temp", "hum", "co2", "volt", "amp")
  val Tables: IndexedSeq[String] = IndexedSeq("zone_metrics", "device_metrics")

  /** Overlapping filters, narrow ones first: a `site/...` topic matches
    * 1.5 of them on average and the first decides its route. About 18% of
    * messages (all `ext/...` topics and some `site/...` ones) match none.
    */
  val filters: IndexedSeq[String] =
    (0 until 6).map(i => s"site/$i/${Areas(i % 5)}/+/${Metrics((i + 1) % 5)}") ++
      (0 until 6).map(i => s"site/+/${Areas(i % 5)}/d$i/#") ++
      (0 until 4).map(i => s"site/${i + 4}/+/+/${Metrics(i)}") ++
      IndexedSeq("site/8/#", "+/9/#") ++
      (0 until 3).map(i => s"site/+/${Areas(i)}/#") ++
      (1 to 3).map(i => s"+/+/+/+/${Metrics(i)}")

  def routeName(i: Int): String = f"r$i%02d"
  def tableOf(i: Int): String = Tables(i % Tables.length)

  val toml: String = filters.indices.map { i =>
    s"""[[routes]]
       |filter = "${filters(i)}"
       |table = "${tableOf(i)}"
       |select = ["time", "topic", "'${routeName(i)}' as route", "cast(get_json_object(cast(payload as string), '$$.v') as double) as value", "qos"]
       |""".stripMargin
  }.mkString("\n")
}

/** `ingest_jdbc_multitable`: the reference's example routes from TOML — a
  * select route to `iot_metrics`, a `[[routes.records]]` route to
  * `sensor_readings` and `sensor_events`, and a where-only passthrough
  * route — landed through `Sink.jdbcFanOutBatch` in embedded Derby. Some
  * payloads are not JSON.
  */
final class JdbcMultiTable(ctx: Ctx) extends IngestLoop[Boolean](ctx) {
  import ctx._
  import JdbcMultiTable._

  private var fanOuts = 0L
  private var tablesWritten = 0L

  // On disk under the run's directory, so that the landed rows stay off
  // the heap that `heap_live_mb` reads; without log syncs, as in memory.
  System.setProperty("derby.system.durability", "test")
  private val database = tmp.resolve("derby").toString
  private val Url = s"jdbc:derby:$database;create=true"

  /** Each message with whether its payload is broken (not JSON). */
  protected def epoch(e: Int): IndexedSeq[(Message, Boolean)] = {
    val r = Inputs.rng(seed, 100000L + e)
    (0 until IngestLoop.EpochSize).map { j =>
      val seq = e.toLong * IngestLoop.EpochSize + j
      val qos = r.nextInt(3)
      val broken = r.nextInt(100) < 6
      val (topic, payload) = r.nextInt(100) match {
        case k if k < 35 =>
          val v = Inputs.halfUnits(r, 60)
          (s"sensors/s${r.nextInt(40)}/metrics",
            if (broken) s"temperature=$v"
            else if (r.nextBoolean()) s"""{"temperature":$v}""" else s"""{"value":$v}""")
        case k if k < 70 =>
          val fields =
            Option.when(r.nextInt(4) > 0)(s""""temperature":${Inputs.halfUnits(r, 50)}""").toSeq ++
              Option.when(r.nextInt(3) > 0)(s""""humidity":${Inputs.halfUnits(r, 100)}""") ++
              Option.when(r.nextBoolean())(s""""battery":${Inputs.halfUnits(r, 100)}""") ++
              Option.when(r.nextInt(5) == 0)(""""alert":"low_battery"""")
          (s"devices/dev${r.nextInt(25)}/state",
            fields.mkString("{", ",", if (broken) "" else "}"))
        case k if k < 85 => (s"ruuvi/tag${r.nextInt(12)}", s"""{"rssi":-${r.nextInt(90)}}""")
        case _ =>
          (s"lab/bench${r.nextInt(6)}/log", if (broken) "offline" else s"""{"n":${r.nextInt(1000)}}""")
      }
      (Inputs.message(topic, payload, qos, seq), broken)
    }
  }

  protected def buildRouter(): Router = EngineConfig.fromToml(toml).buildRouter(Map.empty)

  // the JDBC path keeps getting faster over its first eight epochs
  protected val warmupEpochs = 8

  private def fanOut(batch: DataFrame): Map[String, DataFrame] =
    trace.span("router.fanout") {
      val out = router.fanOut(batch)
      fanOuts += 1
      tablesWritten += out.size
      if (trace.enabled) countBranches(out)
      out
    }

  protected def startQuery(messages: DataFrame): StreamingQuery =
    messages.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      trace.span("sink.jdbc_fanout_batch")(Sink.jdbcFanOutBatch(Url, fanOut)(batch, id))
    }.option("checkpointLocation", tmp.resolve("checkpoint").toString).start()

  /** Compares Derby, queried over plain JDBC, with every offered message
    * routed by the reference matcher and transformed from the generator's
    * own knowledge of its payload: per table the row count and column sums.
    */
  def check(ops: Int): Int = {
    val expected = Queries.map { case (t, _) => t -> Array.fill(4)(0.0) }.toMap
    def add(table: String, vs: Double*): Unit = {
      val a = expected(table)
      a(0) += 1
      vs.zipWithIndex.foreach { case (v, k) => a(k + 1) += v }
    }
    // the generator writes every number as `"name":<double>`
    def field(p: String, name: String): Option[Double] = {
      val k = p.indexOf(s""""$name":""")
      Option.when(k >= 0)(
        p.drop(k + name.length + 3).takeWhile(c => c != ',' && c != '}').toDouble)
    }
    stopAndReplay(ops).foreach { case (m, broken) =>
      val p = new String(m.payload, "UTF-8")
      Checks.firstMatch(Filters, m.topic) match {
        case 0 if !broken => add("iot_metrics", field(p, "temperature").orElse(field(p, "value")).get)
        case 1 if !broken =>
          val (temp, hum) = (field(p, "temperature"), field(p, "humidity"))
          if (temp.isDefined || hum.isDefined)
            add("sensor_readings", temp.getOrElse(0.0), hum.getOrElse(0.0),
              field(p, "battery").getOrElse(100.0))
          if (p.contains("\"alert\"")) add("sensor_events")
        case 2 if m.qos > 0 => add("ruuvi_raw", m.qos.toDouble)
        case -1 => add(Router.RawTable, if (broken) 0.0 else 1.0)
        case _ => () // matched, then dropped by the route's `where`
      }
    }
    val conn = DriverManager.getConnection(Url)
    val got = try Queries.map { case (table, sql) =>
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      table -> (1 to rs.getMetaData.getColumnCount).map(rs.getDouble)
    }.toMap finally conn.close()
    val want = expected.map { case (t, a) => t -> a.take(got(t).length).toSeq }
    val ok = want == got
    if (!ok) System.err.println(s"ingest_jdbc_multitable: Derby rows differ from " +
      s"the reference: got $got, expected $want")
    if (ok) 0 else ops
  }

  def layers(ops: Int, spans: Map[String, (Int, Double, Double)],
      counters: Map[String, Double]): Map[String, Double] =
    loopLayers(ops, spans, counters) ++ Map(
      "router.fanout_ms" -> spans.get("router.fanout").map(_._2).getOrElse(0.0) / ops,
      // the batch span's self time: the writes, without the fan-out
      "sink.write_ms" -> spans.get("sink.jdbc_fanout_batch").map(_._3).getOrElse(0.0) / ops,
      "sink.tables_written" -> tablesWritten.toDouble / fanOuts)

  override def close(): Unit = {
    super.close()
    // Derby reports a shut-down database as an exception
    try DriverManager.getConnection(s"jdbc:derby:$database;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }
}

object JdbcMultiTable {
  val Filters: IndexedSeq[String] = IndexedSeq("sensors/+/metrics", "devices/#", "ruuvi/+")

  private val p = "cast(payload as string)"
  val toml: String =
    s"""[[routes]]
       |filter = "${Filters(0)}"
       |where = "try_parse_json($p) is not null"
       |select = ["time", "topic as device", "coalesce(cast(get_json_object($p, '$$.temperature') as double), cast(get_json_object($p, '$$.value') as double), 0.0d) as value", "$p as raw"]
       |table = "iot_metrics"
       |
       |[[routes]]
       |filter = "${Filters(1)}"
       |where = "try_parse_json($p) is not null"
       |
       |[[routes.records]]
       |table = "sensor_readings"
       |where = "get_json_object($p, '$$.temperature') is not null or get_json_object($p, '$$.humidity') is not null"
       |select = ["time", "topic as sensor_id", "coalesce(cast(get_json_object($p, '$$.temperature') as double), 0.0d) as temperature", "coalesce(cast(get_json_object($p, '$$.humidity') as double), 0.0d) as humidity", "coalesce(cast(get_json_object($p, '$$.battery') as double), 100.0d) as battery"]
       |
       |[[routes.records]]
       |table = "sensor_events"
       |where = "get_json_object($p, '$$.alert') is not null"
       |select = ["time", "topic as sensor_id", "'alert' as event_type", "$p as details"]
       |
       |[[routes]]
       |filter = "${Filters(2)}"
       |where = "qos > 0"
       |table = "ruuvi_raw"
       |""".stripMargin

  /** Plain-JDBC read-back per table: the row count, then the sums. Spark
    * creates the tables with quoted lower-case column names.
    */
  val Queries: Seq[(String, String)] = Seq(
    "iot_metrics" -> """SELECT COUNT(*), SUM("value") FROM iot_metrics""",
    "sensor_readings" ->
      """SELECT COUNT(*), SUM("temperature"), SUM("humidity"), SUM("battery") FROM sensor_readings""",
    "sensor_events" -> "SELECT COUNT(*) FROM sensor_events",
    "ruuvi_raw" -> """SELECT COUNT(*), SUM("qos") FROM ruuvi_raw""",
    Router.RawTable ->
      s"""SELECT COUNT(*), SUM(CASE WHEN "json" IS NULL THEN 0 ELSE 1 END) FROM ${Router.RawTable}""")
}
