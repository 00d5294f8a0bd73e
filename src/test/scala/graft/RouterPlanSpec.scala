package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.functions.MqttFunctions
import graft.metrics.Metrics
import graft.model.Message
import graft.operators.Router
import graft.sinks.Sink
import graft.streaming.StreamRoutes

/** What one plan per target table buys: the plan count follows the tables,
  * a steady stream compiles no generated code after its first epoch, and
  * hundreds of TOML routes still plan and run. Routers here are built from
  * TOML select routes over two or three tables, the shape of a wide
  * metrics deployment.
  */
class RouterPlanSpec extends SparkSpec {
  import spark.implicits._

  private val areas = IndexedSeq("hall", "roof", "yard", "dock", "lab")
  private val metrics = IndexedSeq("temp", "hum", "co2", "volt", "amp")

  /** 24 overlapping filters, narrow ones first. */
  private val wide: IndexedSeq[String] =
    (0 until 6).map(i => s"site/$i/${areas(i % 5)}/+/${metrics((i + 1) % 5)}") ++
      (0 until 6).map(i => s"site/+/${areas(i % 5)}/d$i/#") ++
      (0 until 4).map(i => s"site/${i + 4}/+/+/${metrics(i)}") ++
      IndexedSeq("site/8/#", "+/9/#") ++
      (0 until 3).map(i => s"site/+/${areas(i)}/#") ++
      (1 to 3).map(i => s"+/+/+/+/${metrics(i)}")

  private def routeName(i: Int) = f"r$i%03d"

  private def toml(filters: Seq[String], tables: Seq[String]): String =
    filters.indices.map { i =>
      s"""[[routes]]
         |filter = "${filters(i)}"
         |table = "${tables(i % tables.length)}"
         |select = ["time", "topic", "'${routeName(i)}' as route", "cast(get_json_object(cast(payload as string), '$$.v') as double) as value", "qos"]
         |""".stripMargin
    }.mkString("\n")

  /** `n` messages over `sites` sites; about 8% outside `site/`. Values are
    * half units, so their sums are exact in a double.
    */
  private def messages(seed: Long, n: Int, sites: Int = 10): IndexedSeq[(Message, Double)] = {
    val r = new Random(seed)
    (0 until n).map { j =>
      val tail = s"${areas(r.nextInt(5))}/d${r.nextInt(10)}/${metrics(r.nextInt(5))}"
      val topic =
        if (r.nextInt(100) < 8) s"ext/$tail" else s"site/${r.nextInt(sites)}/$tail"
      val v = r.nextInt(1000) / 2.0
      (Message(topic, s"""{"v":$v}""".getBytes("UTF-8"), r.nextInt(3),
        retain = false, new Timestamp(1700000000000L + j * 1000L)), v)
    }
  }

  /** Per (table, route) the row count and value sum, and the unmatched
    * count, from the plain first-match matcher.
    */
  private def reference(filters: IndexedSeq[String], tables: Seq[String],
      msgs: Seq[(Message, Double)]): (Map[(String, String), (Long, Double)], Long) = {
    val out = mutable.HashMap[(String, String), (Long, Double)]()
    var raw = 0L
    msgs.foreach { case (m, v) =>
      filters.indexWhere(MqttFunctions.topicMatches(_, m.topic)) match {
        case -1 => raw += 1
        case i =>
          val k = (tables(i % tables.length), routeName(i))
          val (n, s) = out.getOrElse(k, (0L, 0.0))
          out(k) = (n + 1, s + v)
      }
    }
    (out.toMap, raw)
  }

  private def landed(tables: Seq[String], read: String => DataFrame)
      : (Map[(String, String), (Long, Double)], Long) = {
    val got = tables.flatMap { t =>
      read(t).groupBy("route").agg(count(lit(1)), sum(col("value"))).collect()
        .map(r => (t, r.getString(0)) -> (r.getLong(1), r.getDouble(2)))
    }.toMap
    (got, read(Router.RawTable).count())
  }

  test("a select-only table plans one projection over one scan, no Union") {
    val tables = Seq("zone_metrics", "device_metrics")
    val router = EngineConfig.fromToml(toml(wide, tables)).buildRouter(Map.empty)
    val out = router.fanOut(messages(1, 200).map(_._1).toDF())
    assert(out.keySet === (tables :+ Router.RawTable).toSet)
    tables.foreach { t =>
      val plan = out(t).queryExecution.analyzed
      assert(plan.collect { case u: Union => u }.isEmpty, s"$t:\n$plan")
      assert(plan.collectLeaves().size === 1, s"$t:\n$plan")
    }
  }

  test("a second routed epoch compiles no generated class") {
    val tables = Seq("zone_metrics", "device_metrics")
    val router = EngineConfig.fromToml(toml(wide, tables)).buildRouter(Map.empty)
    val dir = Files.createTempDirectory("router-plan").toString
    val in = MemoryStream[Message](Encoders.product[Message], spark.sqlContext)
    val q = StreamRoutes.routedWriter(in.toDF(), router) { (table, rows) =>
      Sink.writePartitionedByDate(rows, s"$dir/lake/$table", "time", "append")
    }.option("checkpointLocation", s"$dir/checkpoint").start()
    val (first, second) = (messages(1, 1000), messages(2, 1000))
    try {
      in.addData(first.map(_._1))
      q.processAllAvailable()
      val (_, err, c) = Metrics.measure(spark) {
        in.addData(second.map(_._1))
        q.processAllAvailable()
      }
      assert(err.isEmpty)
      assert(c.compiles === 0, s"second epoch: $c")
    } finally q.stop()
    assert(landed(tables, t => spark.read.parquet(s"$dir/lake/$t")) ===
      reference(wide, tables, first ++ second))
  }

  test("300 TOML routes plan, run and match the first-match reference") {
    val r = new Random(300)
    val shapes: Seq[() => String] = Seq(
      () => s"site/${r.nextInt(20)}/${areas(r.nextInt(5))}/+/${metrics(r.nextInt(5))}",
      () => s"site/${r.nextInt(20)}/${areas(r.nextInt(5))}/d${r.nextInt(10)}/${metrics(r.nextInt(5))}",
      () => s"site/+/${areas(r.nextInt(5))}/d${r.nextInt(10)}/#",
      () => s"site/${r.nextInt(20)}/+/+/${metrics(r.nextInt(5))}",
      () => s"+/${r.nextInt(20)}/#")
    val filters = Iterator.continually(shapes(r.nextInt(shapes.length))())
      .distinct.take(300).toIndexedSeq
    val tables = Seq("t0", "t1", "t2")
    val router = EngineConfig.fromToml(toml(filters, tables)).buildRouter(Map.empty)
    val msgs = messages(3, 3000, sites = 20)
    val batch = msgs.map(_._1).toDF()
    var out: Map[String, DataFrame] = null
    val (planS, planErr, _) = Metrics.measure(spark) { out = router.fanOut(batch) }
    assert(planErr.isEmpty, planErr)
    var got: (Map[(String, String), (Long, Double)], Long) = null
    val (runS, runErr, c) = Metrics.measure(spark) { got = landed(tables, out) }
    assert(runErr.isEmpty, runErr)
    info(f"300 routes, 3000 messages: fanOut $planS%.2f s, run $runS%.2f s, $c")
    assert(got === reference(filters, tables, msgs))
  }
}
