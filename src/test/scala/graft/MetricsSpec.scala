package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import graft.metrics.Metrics.{force, measure}

/** The measurement layer's counts are exact on fixed plans: adaptive
  * execution is off here, so every plan runs the stages it was planned
  * with and the shuffle keeps its 4 partitions.
  */
class MetricsSpec extends SparkSpec {

  private def withFixedPlans(body: => Unit): Unit = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // one narrow stage over 3 input partitions
  private def narrow =
    spark.range(0L, 3000L, 1L, 3).toDF().filter(col("id") % 7 === 3)
  // 3 map tasks, then 4 reduce tasks
  private def shuffled = spark.range(0L, 3000L, 1L, 3)
    .groupBy((col("id") % 5).as("k")).count()

  test("measure records the error instead of swallowing it") {
    val (_, err, _) = measure(spark) {
      throw new IllegalStateException("boom \"quoted\" detail")
    }
    assert(err.isDefined)
    assert(err.get.contains("IllegalStateException"))
    assert(err.get.contains("boom"))
    val (sec, ok, _) = measure(spark) { () }
    assert(ok.isEmpty)
    assert(sec >= 0.0)
  }

  test("fixed plans: exact job, stage and task counts; shuffle bytes " +
      "written are the bytes read") {
    withFixedPlans {
      val (_, err, n) = measure(spark) { force(narrow) }
      assert(err.isEmpty)
      assert((n.jobs, n.stages, n.tasks) === ((1L, 1L, 3L)))
      assert(n.shuffleWriteBytes === 0L && n.shuffleReadBytes === 0L)

      val (_, _, s) = measure(spark) { force(shuffled) }
      assert((s.jobs, s.stages, s.tasks) === ((1L, 2L, 7L)))
      assert(s.shuffleWriteBytes > 0L)
      assert(s.shuffleWriteBytes === s.shuffleReadBytes)
    }
  }

  test("back-to-back measures share no job, with no pause between them") {
    // a slow listener on the same bus holds back the events behind it:
    // counters read without draining the bus would miss the body's tasks
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(30)
    }
    spark.sparkContext.addSparkListener(slow)
    try withFixedPlans {
      val a = measure(spark) { force(shuffled) }._3
      val b = measure(spark) { force(narrow) }._3
      val c = measure(spark) { () }._3
      assert((a.jobs, a.stages, a.tasks) === ((1L, 2L, 7L)))
      assert((b.jobs, b.stages, b.tasks) === ((1L, 1L, 3L)))
      assert(b.shuffleWriteBytes === 0L && b.shuffleReadBytes === 0L)
      assert((c.jobs, c.stages, c.tasks, c.compiles) === ((0L, 0L, 0L, 0L)))
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a second run of an identical plan compiles no class") {
    withFixedPlans {
      // literals no other spec uses, so the first run must compile
      def plan = spark.range(0L, 1000L, 1L, 2)
        .selectExpr("id * 7919 + 13 AS x").filter(col("x") % 1013 === 17)
      val first = measure(spark) { force(plan) }._3
      val second = measure(spark) { force(plan) }._3
      assert(first.compiles > 0L, "the probe must see the first compile")
      assert(second.compiles === 0L, s"recompiled: ${second.show}")
      assert(second.compileMs === 0L)
    }
  }
}
