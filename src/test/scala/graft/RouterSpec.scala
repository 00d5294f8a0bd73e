package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.functions._

import graft.functions.MqttFunctions
import graft.model.{Envelope, Message}
import graft.operators.{Route, Router, Transforms}
import graft.schema.{CatalogBuilder, TableSchema}

class RouterSpec extends SparkSpec {
  import spark.implicits._

  def msg(topic: String, payload: String, t: Long = 0L): Message =
    Message(topic, payload.getBytes("UTF-8"), 0, retain = false, new Timestamp(t))

  lazy val messages = Seq(
    msg("sensors/temp1", """{"temperature": 25.5}"""),
    msg("sensors/hum1", """{"humidity": 60}"""),
    msg("devices/d1/telemetry", """{"value": 1.5}"""),
    msg("other/x", "not json")).toDS().toDF()

  test("first-match wins: overlapping filters route to the first route (router.go:344-363)") {
    val r = Router(
      Route("a", "sensors/#", table = "t_a"),
      Route("b", "sensors/+", table = "t_b"), // shadowed by a for 2-level topics
      Route("c", "devices/#", table = "t_c"))
    val tagged = r.tag(messages).select("topic", "route", "target_table")
      .as[(String, String, String)].collect()
      .map { case (k, v, t) => k -> ((v, t)) }.toMap
    assert(tagged("sensors/temp1") === ("a", "t_a"))
    assert(tagged("sensors/hum1") === ("a", "t_a"))
    assert(tagged("devices/d1/telemetry") === ("c", "t_c"))
    assert(tagged("other/x") === (null, Router.RawTable))
  }

  test("fanOut partitions the stream: a catch-all after takes the rest") {
    val r = Router(
      Route("a", "sensors/#", table = "t_a"),
      Route("b", "#", table = "t_b")) // catch-all after
    val out = r.fanOut(messages)
    val n0 = out("t_a").count()
    val n1 = out("t_b").count()
    assert(n0 === 2)
    assert(n1 === 2) // everything not sensors/#
    assert(n0 + n1 === messages.count())
    assert(out(Router.RawTable).count() === 0)
  }

  test("passthrough canonical format: 6 fields, json null for non-JSON (router_test.go:38-86)") {
    val pt = Envelope.passthrough(messages)
    assert(pt.columns.toSeq === Seq("time", "topic", "qos", "retain", "raw", "json"))
    val rows = pt.select("topic", "raw", "json").as[(String, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows("other/x")._2 === "not json")
    assert(rows("other/x")._3 === null)
    assert(rows("sensors/temp1")._3 === """{"temperature": 25.5}""")
  }

  test("fanOut groups by table, unmatched lands in iot_raw (router.go:392-399)") {
    val r = new Router(Seq(
      Route("s", "sensors/#", table = "sensor_raw"),
      Route("d", "devices/#", table = "device_raw")))
    val out = r.fanOut(messages)
    assert(out.keySet === Set("sensor_raw", "device_raw", Router.RawTable))
    assert(out("sensor_raw").count() === 2)
    assert(out("device_raw").count() === 1)
    assert(out(Router.RawTable).count() === 1)
  }

  test("route targeting iot_raw coexists with the unmatched passthrough") {
    val r = new Router(Seq(Route("s", "sensors/#", table = Router.RawTable)))
    val out = r.fanOut(messages)
    assert(out.keySet === Set(Router.RawTable))
    // 2 routed sensor messages + 2 unmatched — nothing silently dropped
    assert(out(Router.RawTable).count() === 4)
  }

  test("closed-world schema validation fails the branch at plan time (A8)") {
    val cat = CatalogBuilder(TableSchema("narrow", Map("time" -> "timestamptz")))
    val r = new Router(Seq(Route("s", "sensors/#", table = "narrow")), cat)
    val ex = intercept[IllegalArgumentException] { r.fanOut(messages) }
    assert(ex.getMessage.contains("not defined in schema"))
  }

  test("strict type validation rejects a declared/emitted type mismatch (A8+)") {
    // passthrough emits qos as int; declaring it text is accepted by the
    // reference-parity presence check but rejected under strictTypes
    val cols = Map("time" -> "timestamptz", "topic" -> "text",
      "qos" -> "text", "retain" -> "boolean", "raw" -> "text", "json" -> "jsonb")
    val cat = CatalogBuilder(TableSchema("cap", cols))
    val lax = new Router(Seq(Route("s", "sensors/#", table = "cap")), cat)
    assert(lax.fanOut(messages).keySet.contains("cap")) // presence-only: fine
    val strict = new Router(Seq(Route("s", "sensors/#", table = "cap")), cat,
      strictTypes = true)
    val ex = intercept[IllegalArgumentException] { strict.fanOut(messages) }
    assert(ex.getMessage.contains("qos") && ex.getMessage.contains("text"))
    // with the true type declared, strict mode accepts the same plan
    val fixed = CatalogBuilder(TableSchema("cap", cols + ("qos" -> "int")))
    val ok = new Router(Seq(Route("s", "sensors/#", table = "cap")), fixed,
      strictTypes = true)
    assert(ok.fanOut(messages).keySet.contains("cap"))
  }

  test("TOML [validation] strict_types flows through the config-built Router") {
    val cfg = graft.config.EngineConfig.fromToml(
      """[validation]
        |strict_types = true
        |
        |[[routes]]
        |filter = "sensors/#"
        |table = "cap"
        |""".stripMargin)
    val cols = Map("time" -> "timestamptz", "topic" -> "text",
      "qos" -> "text", "retain" -> "boolean", "raw" -> "text", "json" -> "jsonb")
    val bad = cfg.buildRouter(Map.empty, CatalogBuilder(TableSchema("cap", cols)))
    val ex = intercept[IllegalArgumentException] { bad.fanOut(messages) }
    assert(ex.getMessage.contains("qos"))
    val ok = cfg.buildRouter(Map.empty,
      CatalogBuilder(TableSchema("cap", cols + ("qos" -> "int"))))
    assert(ok.fanOut(messages).keySet.contains("cap"))
  }

  test("transform routes apply their transform (multi_table.lua integration shape)") {
    val r = new Router(Seq(
      Route("m", "sensors/#", table = "sensor_readings",
        transform = Some(Transforms.multiTable))))
    val m = r.fanOut(messages)("sensor_readings")
    assert(m.filter(col("table") === "sensor_readings").count() === 2)
    // non-JSON and non-matching topics excluded
    assert(m.count() === 2)
  }

  test("multi_table transform: values and defaulting (integration_test.go:151-224)") {
    val out = Transforms.multiTable(messages)
      .filter(col("sensor_id") === "temp1")
      .select("temperature", "humidity", "battery")
      .as[(Double, Double, Double)].collect()
    assert(out.toSeq === Seq((25.5, 0.0, 100.0)))
  }

  test("generic transform: multi-table fan-out, one message to two tables " +
      "(integration_test.go:151-224)") {
    import graft.operators.{GenericRecord, GenericTransform => GT}
    val one = Seq(msg("test/topic", "test", 1700000000000L)).toDS().toDF()
    def f(m: Message): Seq[GenericRecord] = Seq(
      GenericRecord(Some("readings"), Map(
        "time" -> m.time.toInstant.toString, "value" -> "123.45")),
      GenericRecord(Some("events"), Map(
        "time" -> m.time.toInstant.toString, "event" -> "data_received")))
    val tagged = GT(one, "default_table", f)
    val out = GT.fanOut(tagged, CatalogBuilder(
      TableSchema("readings", Map("time" -> "timestamptz", "value" -> "double precision")),
      TableSchema("events", Map("time" -> "timestamptz", "event" -> "text"))))
    assert(out("readings").count() === 1)
    assert(out("events").count() === 1)
    val r = out("readings").select("value").as[Double].collect()(0)
    assert(r === 123.45)
    val e = out("events").select("event").as[String].collect()(0)
    assert(e === "data_received")
  }

  test("generic transform: no table override uses the route default " +
      "(integration_test.go:226-283)") {
    import graft.operators.{GenericRecord, GenericTransform => GT}
    val one = Seq(msg("test/topic", "test")).toDS().toDF()
    val tagged = GT(one, "default_data",
      _ => Seq(GenericRecord(None, Map("value" -> "99"))))
    val tables = tagged.select("table").as[String].collect()
    assert(tables.toSeq === Seq("default_data"))
  }

  test("generic transform: invalid column names are skipped, empty result ok " +
      "(router.go:291-341)") {
    import graft.operators.{GenericRecord, GenericTransform => GT}
    val two = Seq(msg("a/1", "x"), msg("a/2", "y")).toDS().toDF()
    def f(m: Message): Seq[GenericRecord] =
      if (m.topic == "a/1")
        Seq(GenericRecord(None, Map(
          "good_col" -> "1", "bad;col" -> "2", "also bad" -> "3")))
      else Seq.empty // 0..N contract: empty array is fine
    val tagged = GT(two, "t", f)
    assert(tagged.count() === 1)
    val keys = tagged.select(map_keys(col("columns"))).as[Seq[String]]
      .collect()(0)
    assert(keys.toSet === Set("good_col"))
  }

  test("generic transform: closed-world check fails on undeclared column at runtime") {
    import graft.operators.{GenericRecord, GenericTransform => GT}
    val one = Seq(msg("a/1", "x")).toDS().toDF()
    val tagged = GT(one, "t",
      _ => Seq(GenericRecord(None, Map("declared" -> "1", "rogue" -> "2"))))
    val out = GT.fanOut(tagged, CatalogBuilder(
      TableSchema("t", Map("declared" -> "text"))))
    val ex = intercept[Exception] { out("t").collect() }
    assert(ex.getMessage.contains("rogue") ||
      Option(ex.getCause).exists(_.getMessage.contains("rogue")))
  }

  test("generic multiTableExample matches the expression-path multiTable") {
    import graft.operators.{GenericTransform => GT}
    // expression version over the same messages
    val expr = Transforms.multiTable(messages)
      .select("table", "sensor_id", "temperature", "humidity", "battery", "event_type")
      .as[(String, String, Option[Double], Option[Double], Option[Double], Option[String])]
      .collect().toSet
    val tagged = GT(messages, "iot_data", GT.multiTableExample)
    val tables = GT.fanOut(tagged, GT.multiTableCatalog)
    val r = tables("sensor_readings").select(
      lit("sensor_readings").as("table"), col("sensor_id"),
      col("temperature"), col("humidity"), col("battery"),
      lit(null).cast("string").as("event_type"))
    val e = tables("sensor_events").select(
      lit("sensor_events").as("table"), col("sensor_id"),
      lit(null).cast("double").as("temperature"),
      lit(null).cast("double").as("humidity"),
      lit(null).cast("double").as("battery"), col("event_type"))
    val gen = r.unionByName(e)
      .as[(String, String, Option[Double], Option[Double], Option[Double], Option[String])]
      .collect().toSet
    assert(gen === expr)
  }

  test("unitConversion: C→F and rot13 fields (transform.lua)") {
    val one = Seq(msg("t/1", """{"temperature": 0, "text": "Hello, World!"}""", 1700000000000L))
      .toDS().toDF()
    val row = Transforms.unitConversion(one)
      .select("temperature_fahrenheit", "text_rot13", "timestamp", "processed_by")
      .as[(Double, String, Long, String)].collect()(0)
    assert(row === ((32.0, "Uryyb, Jbeyq!", 1700000000L, "hermod")))
  }

  test("iotMetrics: or-defaulting to 0 (routing_transform.lua:22)") {
    val out = Transforms.iotMetrics(messages)
      .select("device", "value").as[(String, Double)].collect().toMap
    assert(out("sensors/temp1") === 25.5)
    assert(out("devices/d1/telemetry") === 1.5)
    assert(out("sensors/hum1") === 0.0) // no temperature, no value -> 0
    assert(!out.contains("other/x")) // non-JSON filtered (if msg.json)
  }

  test("fanOut equals a plain first-match reference over every route kind") {
    def tagged(src: String)(df: DataFrame): DataFrame =
      df.select(col("topic"), col("qos"), lit(src).as("src"))
    // two select routes (one with a where) fold into one plan of `mix`; a
    // script route and a records emit land there too, each as its own plan
    val routes = Seq(
      Route("sel_where", "a/+/x", table = "mix",
        select = Seq(col("topic"), col("qos"), lit("sel_where").as("src")),
        where = Some(col("qos") > 0)),
      Route("sel", "a/#", table = "mix",
        select = Seq(expr("topic"), expr("qos"), expr("'sel' as src"))),
      Route("script", "b/+", table = "mix", transform = Some(tagged("script"))),
      Route("records", "c/#", emits = Seq(
        "mix" -> (df => tagged("records")(df.filter(col("qos") =!= 1))),
        "rec_only" -> tagged("rec_only"))),
      Route("raw", "+/raw", table = Router.RawTable),
      Route("kept", "d/#", table = "kept", where = Some(expr("qos < 2"))))
    val levels = Seq("a", "b", "c", "d", "z", "raw", "x", "")
    val topics = for (a <- levels; b <- levels :+ "-"; c <- Seq("-", "x", "raw"))
      yield Seq(a, b, c).filter(_ != "-").mkString("/")
    // the envelope's topic is nullable: a null topic matches no filter and
    // is not unmatched either, so it lands in no table
    val msgs = (topics :+ null).zipWithIndex.map { case (t, i) =>
      Message(t, (if (i % 4 == 0) "raw" else s"""{"i":$i}""").getBytes("UTF-8"),
        i % 3, retain = false, new Timestamp(i * 1000L))
    }
    val expected = mutable.Map[String, Vector[(String, Int, String)]]()
      .withDefaultValue(Vector.empty)
    def add(t: String, m: Message, src: String): Unit =
      expected(t) = expected(t) :+ ((m.topic, m.qos, src))
    msgs.filter(_.topic != null).foreach { m =>
      routes.indexWhere(r => MqttFunctions.topicMatches(r.filter, m.topic)) match {
        case -1 | 4 => add(Router.RawTable, m, null)
        case 0 => if (m.qos > 0) add("mix", m, "sel_where")
        case 1 => add("mix", m, "sel")
        case 2 => add("mix", m, "script")
        case 3 =>
          if (m.qos != 1) add("mix", m, "records")
          add("rec_only", m, "rec_only")
        case 5 => if (m.qos < 2) add("kept", m, null)
      }
    }
    val out = new Router(routes).fanOut(msgs.toDS().toDF())
    assert(out.keySet === Set("mix", "rec_only", "kept", Router.RawTable))
    def counted(rows: Seq[(String, Int, String)]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    out.foreach { case (t, df) =>
      val src = if (df.columns.contains("src")) col("src") else lit(null).cast("string")
      val got = df.select(col("topic"), col("qos"), src)
        .as[(String, Int, String)].collect().toSeq
      assert(counted(got) === counted(expected(t)), s"table $t")
    }
    def leaves(p: LogicalPlan): Int = p match {
      case u: Union => u.children.map(leaves).sum
      case _ => 1
    }
    assert(leaves(out("mix").queryExecution.analyzed) === 3)
  }
}
