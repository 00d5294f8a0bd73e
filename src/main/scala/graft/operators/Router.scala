package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.functions.MqttFunctions
import graft.model.Envelope
import graft.schema.{Catalog => SchemaCatalog}

/** A route. `emits` is the multi-RECORD fan-out contract
  * (router.go:291-341, examples/multi_table.lua:30): when non-empty, one
  * matched message emits 0..N records to DIFFERENT tables — each emit is
  * `(target table, transform)` applied to the route's rows, and the
  * per-emit transform's own predicate decides whether a given message
  * produces that record. `transform`/`table` are ignored when `emits` is
  * set (they are the 1-table special case).
  *
  * `select` is a transform in expression form (a TOML select list): the
  * route's rows projected through these columns. It excludes `transform`
  * and `emits`; only an expression-form route can share its table's plan
  * with other routes (see [[Router]]). `where` filters the route's rows
  * before whichever of `select`, `transform`, `emits` or the passthrough
  * capture applies.
  */
final case class Route(
    name: String,
    filter: String,
    table: String = Router.DefaultTable,
    transform: Option[DataFrame => DataFrame] = None,
    emits: Seq[(String, DataFrame => DataFrame)] = Nil,
    select: Seq[Column] = Nil,
    where: Option[Column] = None)

/** First-match message routing (operator A3,
  * the reference's `internal/router/router.go:344-363`) plus the multi-table
  * fan-out sink shape (A9, router.go:222-244), Spark-first.
  *
  * The reference dispatches each message to the FIRST route whose MQTT filter
  * matches; unmatched messages fall through to passthrough capture in
  * `iot_raw` (router.go:392-399). Route order is therefore semantic, and
  * one ordered `CASE WHEN` over the compiled filter regexes encodes it:
  * CaseWhen evaluates branches in order, so first-match comes for free, in
  * one fully codegen'd pass. `routeName`/`targetTable` tag a message with
  * the winner's name or table; `routeIndex` with its position, -1 when no
  * route matches.
  *
  * `fanOut` computes the index once per batch and builds one plan per target
  * table over it. The select routes of a table whose projections share one
  * shape fold into a single plan: one filter `idx IN (their indexes)` with
  * each route's `where` as a `CASE idx` arm, under one projection whose every
  * column is `CASE idx WHEN i THEN <route i's expression> END`. Every other
  * contributor — a script, an emit, a passthrough route, a select whose
  * projection is not plain or has another shape — keeps a plan of its own
  * filtered on `idx = i`, unioned by name into its table. The plan count
  * therefore follows the tables, not the routes, and the generated code an
  * epoch needs stays the same small set from epoch to epoch.
  *
  * Queue-full drop semantics (router.go:354-355) are deliberately NOT
  * reproduced — Spark back-pressures instead of dropping (SURVEY.md §4).
  */
final class Router(
    val routes: Seq[Route],
    catalog: SchemaCatalog = SchemaCatalog(Map.empty),
    strictTypes: Boolean = false) {
  require(routes.map(_.name).distinct.length == routes.length,
    "route names must be unique")
  routes.foreach(r => require(
    r.select.isEmpty || (r.transform.isEmpty && r.emits.isEmpty),
    s"route ${r.name}: `select` excludes `transform` and `emits`"))

  private def matches(r: Route): Column =
    MqttFunctions.topicMatchesCol(r.filter, col("topic"))

  /** One ordered CASE WHEN: `value(i)` of the first matching route. */
  private def firstMatch(value: Int => Column, unmatched: Column): Column =
    routes.indices.foldRight(unmatched) { (i, els) =>
      when(matches(routes(i)), value(i)).otherwise(els)
    }

  /** Name of the first matching route, else null. */
  def routeName: Column =
    firstMatch(i => lit(routes(i).name), lit(null).cast("string"))

  /** Target table of the first matching route; unmatched → iot_raw. */
  def targetTable: Column =
    firstMatch(i => lit(routes(i).table), lit(Router.RawTable))

  /** Position of the first matching route, -1 when none matches. A null
    * topic matches no filter and is not unmatched either: its index is
    * null, so it lands in no table.
    */
  def routeIndex: Column =
    firstMatch(lit(_), when(col("topic").isNotNull, lit(-1)))

  /** Tag every message with its winning route in a single pass. */
  def tag(messages: DataFrame): DataFrame =
    messages
      .withColumn("route", routeName)
      .withColumn("target_table", targetTable)

  /** The messages with their `routeIndex` in [[Router.IndexCol]]: the input
    * of `fanOutIndexed`.
    */
  def withIndex(messages: DataFrame): DataFrame =
    messages.withColumn(Router.IndexCol, routeIndex)

  // The routes with their select lists and wheres parsed, once per router:
  // on first use, so a malformed expression fails the fan-out that uses it.
  private lazy val parsed: IndexedSeq[Route] = routes.toIndexedSeq.map(r =>
    r.copy(select = r.select.map(GraftShims.parsed),
      where = r.where.map(GraftShims.parsed)))

  /** Multi-table fan-out (A9): one plan per target table, validated against
    * the declared catalog closed-world (A8) — at PLAN time, the Spark analog
    * of the reference's per-record check (router.go:230-237): an undeclared
    * emitted column fails the whole table before anything runs.
    */
  def fanOut(messages: DataFrame): Map[String, DataFrame] =
    fanOutIndexed(withIndex(messages))

  /** `fanOut` over messages that already carry their index (`withIndex`),
    * so a caller can materialize the routing once for every table's write.
    */
  def fanOutIndexed(indexed: DataFrame): Map[String, DataFrame] = {
    val rs = parsed
    val idx = col(Router.IndexCol)
    val base = indexed.queryExecution.analyzed

    // route i's rows, where-filtered, as the route's transform sees them
    def rows(i: Int): DataFrame = {
      val hit = indexed.filter(idx === i)
      rs(i).where.fold(hit)(hit.filter).drop(Router.IndexCol)
    }

    // CASE idx WHEN i THEN v ... ELSE otherwise END
    def byIndex(arms: Seq[(Int, Column)], otherwise: Column): Column =
      if (arms.isEmpty) otherwise
      else arms.tail.foldLeft(when(idx === arms.head._1, arms.head._2)) {
        case (c, (i, v)) => c.when(idx === i, v)
      }.otherwise(otherwise)

    // a select route's analyzed projection, when it is one plain Project
    // over the batch (no generator, aggregate or window; no index column)
    val plain: Map[Int, Seq[NamedExpression]] = rs.indices.flatMap { i =>
      if (rs(i).select.isEmpty) None
      else indexed.select(rs(i).select: _*).queryExecution.analyzed match {
        case Project(list, child)
            if child == base && !list.exists(_.name == Router.IndexCol) =>
          Some(i -> list)
        case _ => None
      }
    }.toMap
    def shape(i: Int) = plain(i).map(e => (e.name, e.dataType))
    // per table, the plain select routes with the shape of its first one
    val folds: Map[String, Seq[Int]] = rs.indices.filter(plain.contains)
      .groupBy(i => rs(i).table)
      .map { case (table, is) => table -> is.filter(shape(_) == shape(is.head)) }
    val folded = folds.values.flatten.toSet

    def foldedPlan(is: Seq[Int]): DataFrame = {
      val wheres = is.flatMap(i => rs(i).where.map(i -> _))
      val keep = idx.isin(is: _*) && byIndex(wheres, lit(true))
      val lists = is.map(plain)
      val out = lists.head.indices.map { k =>
        val arms = is.zip(lists).map { case (i, l) => i -> unaliased(l(k)) }
        byIndex(arms.init, arms.last._2).as(lists.head(k).name)
      }
      indexed.filter(keep).select(out: _*)
    }

    // (table, output) contributions in route order — a folded table's plan
    // at its first route — so a table's columns follow its first route
    val contribs = rs.zipWithIndex.flatMap { case (r, i) =>
      if (folded(i))
        if (folds(r.table).head == i) Seq(r.table -> foldedPlan(folds(r.table)))
        else Nil
      else if (r.emits.nonEmpty)
        r.emits.map { case (tbl, fn) => tbl -> fn(rows(i)) }
      else if (r.select.nonEmpty)
        Seq(r.table -> rows(i).select(r.select: _*))
      else
        Seq(r.table ->
          r.transform.map(_(rows(i))).getOrElse(Envelope.passthrough(rows(i))))
    }
    val byTable = contribs
      .groupBy(_._1)
      .map { case (table, dfs) =>
        table -> dfs.map(_._2).reduce(_ unionByName _)
      }
    byTable.foreach { case (table, df) =>
      // strictTypes additionally checks declared SQL type vs emitted Spark
      // type (Catalog.typeCompatible) — still a plan-build check, zero
      // runtime cost; presence-only is the reference-parity default
      val checked =
        if (strictTypes) catalog.validateTyped(table, df.schema)
        else catalog.validate(table, df.columns)
      checked match {
        case Left(err) => throw new IllegalArgumentException(
          s"schema validation failed for table $table: $err")
        case Right(()) =>
      }
    }
    val unmatched = Envelope.passthrough(indexed.filter(idx === -1))
    // a route may legitimately target iot_raw; its slice and the unmatched
    // passthrough both land there (reference: dynamic per-record INSERTs
    // into one table — allowMissingColumns mirrors the dynamic row shapes)
    byTable.get(Router.RawTable) match {
      case Some(routed) => byTable + (Router.RawTable ->
        routed.unionByName(unmatched, allowMissingColumns = true))
      case None => byTable + (Router.RawTable -> unmatched)
    }
  }

  private def unaliased(e: NamedExpression): Column = GraftShims.column(e match {
    case Alias(child, _) => child
    case other => other: Expression
  })
}

object Router {
  /** Defaults from router.go:111-119. */
  val DefaultTable = "iot_data"
  val RawTable = "iot_raw"
  /** The column `withIndex` adds: the message's `routeIndex`. */
  val IndexCol = "_route_index"

  def apply(routes: Route*): Router = new Router(routes)
}
