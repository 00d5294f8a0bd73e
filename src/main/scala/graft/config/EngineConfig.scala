package graft.config

import org.apache.spark.sql.{DataFrame, GraftShims}

import graft.operators.{Route, Router}
import graft.schema.{Catalog => SchemaCatalog}

/** Config-driven plan construction (operator A13,
  * `/root/reference/internal/config/config.go`,
  * `cmd/hermod/main.go:163-199`): a TOML file declares the engine's routes;
  * legacy `[pipeline]` + `mqtt.topics` configs are auto-wrapped as a single
  * route.
  *
  * The reference's `script` field names a Lua file; here it names a
  * registered DataFrame transform (the Lua corpus re-expressed as column
  * expressions — SURVEY.md §2 A5). `workers`/`queue_size` have no Spark
  * analog (the scheduler owns parallelism; SURVEY.md §4) but are parsed and
  * surfaced for config parity.
  */
final case class MqttConfig(
    broker: String = "",
    clientId: String = "",
    username: String = "",
    password: String = "",
    topics: Seq[String] = Nil,
    qos: Int = 0)

final case class DatabaseConfig(
    host: String = "",
    port: Int = 0,
    user: String = "",
    password: String = "",
    database: String = "",
    sslmode: String = "",
    poolSize: Int = 0) {

  /** Exact reference format (config.go:76-81; config_test.go:112-163). */
  def connectionString: String =
    s"host=$host port=$port user=$user password=$password " +
      s"dbname=$database sslmode=$sslmode pool_max_conns=$poolSize"
}

final case class PipelineConfig(luaScript: String = "", tableName: String = "")

/** `[validation]` section: `strict_types = true` opts the config-built
  * Router into declared-vs-emitted type checking
  * ([[graft.schema.Catalog.typeCompatible]]) on top of the reference-parity
  * presence check — schema strictness becomes a config deployment, like
  * the transforms themselves.
  */
final case class ValidationConfig(strictTypes: Boolean = false)

/** One record group of a config-deployed multi-record route
  * (`[[routes.records]]`): the TOML spelling of the Lua contract's "one
  * message emits N records to different tables"
  * (router.go:291-341, examples/multi_table.lua:30). `where` decides
  * whether a given message produces THIS record (0..N fan-out); `select`
  * builds the record's columns; `table` is the per-RECORD sink override.
  */
final case class RecordConfig(
    table: String = "",
    select: Seq[String] = Nil,
    where: String = "")

final case class RouteConfig(
    filter: String = "",
    script: String = "",
    workers: Int = 1,       // default router.go:111-113
    queueSize: Int = 100,   // default router.go:114-116
    table: String = Router.DefaultTable,
    // Config-deployable transform: a Spark SQL select list (+ optional
    // where) compiled with expr() at plan build — the no-recompile
    // deployment path the reference's Lua layer provides
    // (/root/reference/README.md:184-221): drop a TOML edit, not a jar.
    // `select` is mutually exclusive with `script` (which names a
    // precompiled registered transform); `where` composes with either —
    // or, alone, filters the passthrough capture. A declared `where` is
    // NEVER silently dropped.
    select: Seq[String] = Nil,
    where: String = "",
    // Multi-record fan-out groups; mutually exclusive with both `script`
    // and `select`. The route-level `where` composes (applied before
    // every group's own predicate).
    records: Seq[RecordConfig] = Nil)

final case class EngineConfig(
    mqtt: MqttConfig = MqttConfig(),
    database: DatabaseConfig = DatabaseConfig(),
    pipeline: PipelineConfig = PipelineConfig(),
    routes: Seq[RouteConfig] = Nil,
    validation: ValidationConfig = ValidationConfig()) {

  /** main.go:163-199 — explicit routes win; else wrap the legacy pipeline
    * as one route (filter = the sole topic, or `#`); else no routes (all
    * messages fall through to passthrough).
    */
  def buildRouteConfigs: Seq[RouteConfig] =
    if (routes.nonEmpty) routes
    else if (pipeline.luaScript.nonEmpty || mqtt.topics.nonEmpty) {
      val filter = if (mqtt.topics.length == 1) mqtt.topics.head else "#"
      Seq(RouteConfig(filter = filter, script = pipeline.luaScript,
        workers = 1, queueSize = 100, table = pipeline.tableName))
    } else Nil

  /** Resolve each route's transform and build the Router. A route's
    * transform comes from exactly one of:
    *   - `records` ([[RecordConfig]] groups): the multi-RECORD fan-out —
    *     one matched message emits a record per group whose predicate
    *     holds, each to the group's own table (the complete Lua
    *     parseRecords contract from pure TOML);
    *   - `select` (+ optional `where`): Spark SQL expression strings
    *     compiled via `expr()` — deployable by editing config alone, the
    *     full scalar-function surface with zero recompilation (Catalyst
    *     sees plain expressions: pushdown, pruning, codegen all apply).
    *     They reach the Router as expressions (`Route.select`), not as a
    *     function, so the select routes of one table share one plan;
    *   - `script`: a name resolved against the precompiled transform
    *     registry (for logic beyond a select list — typed fan-out, UDAFs);
    *   - neither: passthrough capture.
    *
    * Escaping note for regex-bearing expressions: TOML basic strings and
    * Spark SQL single-quoted literals each consume one backslash level,
    * so a regex `\b` must be written `\\\\b` in the TOML text
    * (demonstrated end-to-end in StreamPiiRouteSpec).
    */
  def buildRouter(
      transforms: Map[String, DataFrame => DataFrame],
      catalog: SchemaCatalog = SchemaCatalog(Map.empty)): Router = {
    import org.apache.spark.sql.functions.expr
    val rs = buildRouteConfigs.zipWithIndex.map { case (rc, i) =>
      require(rc.script.isEmpty || rc.select.isEmpty,
        s"route $i: `script` and `select` are mutually exclusive")
      require(rc.records.isEmpty || (rc.script.isEmpty && rc.select.isEmpty),
        s"route $i: `records` is mutually exclusive with `script`/`select`")
      // the Router applies `where` before the route's transform, emits or
      // passthrough capture; parse errors surface at fanOut
      val where = Option.when(rc.where.nonEmpty)(expr(rc.where))
      if (rc.records.nonEmpty) {
        // multi-record fan-out from pure TOML: each group is its own
        // (predicate, select list, target table) — one matched message
        // emits a record per group whose predicate holds
        val emits = rc.records.zipWithIndex.map { case (g, j) =>
          require(g.table.nonEmpty,
            s"route $i records[$j]: `table` is required")
          require(g.select.nonEmpty,
            s"route $i records[$j]: `select` is required")
          // parsed once, on first use: a malformed expression fails the
          // fan-out that uses it
          lazy val gWhere = Option.when(g.where.nonEmpty)(GraftShims.parsed(expr(g.where)))
          lazy val gSelect = g.select.map(s => GraftShims.parsed(expr(s)))
          g.table -> ((df: DataFrame) => gWhere.fold(df)(df.filter).select(gSelect: _*))
        }
        Route(s"route_$i", rc.filter, rc.table, emits = emits, where = where)
      } else if (rc.select.nonEmpty)
        Route(s"route_$i", rc.filter, rc.table,
          select = rc.select.map(expr), where = where)
      else {
        // neither select nor script: passthrough capture — of the where-
        // filtered rows when a where is declared (a declared predicate is
        // never silently dropped)
        val t = Option.when(rc.script.nonEmpty)(transforms.getOrElse(rc.script,
          throw new IllegalArgumentException(s"unknown transform script: ${rc.script}")))
        Route(s"route_$i", rc.filter, rc.table, t, where = where)
      }
    }
    new Router(rs, catalog, validation.strictTypes)
  }
}

object EngineConfig {

  /** Minimal TOML-subset parser covering the reference's config surface:
    * `[section]`, `[[array-of-tables]]`, `key = "string" | int | bool |
    * ["a", "b"]`, comments. No external dependency (zero-egress build).
    */
  def parseToml(text: String): Map[String, Any] = {
    val root = scala.collection.mutable.Map[String, Any]()
    var current = root
    text.linesIterator.map(l => stripComment(l.trim))
      .filter(_.nonEmpty)
      .foreach { line =>
        if (line.startsWith("[[") && line.endsWith("]]")) {
          val name = line.substring(2, line.length - 2).trim
          val dot = name.lastIndexOf('.')
          // one nesting level of dotted array-of-tables ([[routes.records]]):
          // append a sub-table array to the LAST element of the parent
          // array — standard TOML semantics for the subset we parse
          val host: scala.collection.mutable.Map[String, Any] =
            if (dot > 0) {
              val parent = name.substring(0, dot)
              val parr = root.getOrElse(parent, throw new IllegalArgumentException(
                s"[[${name}]] before any [[${parent}]]"))
                .asInstanceOf[scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Map[String, Any]]]
              require(parr.nonEmpty, s"[[${name}]] before any [[${parent}]]")
              parr.last
            } else root
          val key = if (dot > 0) name.substring(dot + 1) else name
          val arr = host.getOrElseUpdate(key,
            scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Map[String, Any]]())
            .asInstanceOf[scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Map[String, Any]]]
          val tbl = scala.collection.mutable.Map[String, Any]()
          arr += tbl
          current = tbl
        } else if (line.startsWith("[") && line.endsWith("]")) {
          val name = line.substring(1, line.length - 1).trim
          val tbl = scala.collection.mutable.Map[String, Any]()
          root(name) = tbl
          current = tbl
        } else {
          val eq = line.indexOf('=')
          require(eq > 0, s"malformed TOML line: $line")
          val key = line.substring(0, eq).trim
          current(key) = parseValue(line.substring(eq + 1).trim)
        }
      }
    deepImmutable(root).asInstanceOf[Map[String, Any]]
  }

  private def stripComment(v: String): String = {
    // strip a trailing comment that is not inside a string; inside a
    // string a backslash escapes the next character, so \" does not
    // toggle the quote state and a # after it stays part of the value
    var inStr = false
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (inStr && c == '\\') i += 1 // skip the escaped character
      else if (c == '"') inStr = !inStr
      else if (c == '#' && !inStr) return v.substring(0, i).trim
      i += 1
    }
    v
  }

  /** TOML basic-string escapes for the characters this subset supports
    * (\" \\ \n \t \r); anything else keeps the backslash verbatim.
    */
  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => out += '"';  i += 2
          case '\\' => out += '\\'; i += 2
          case 'n'  => out += '\n'; i += 2
          case 't'  => out += '\t'; i += 2
          case 'r'  => out += '\r'; i += 2
          case _    => out += c;    i += 1
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private def parseValue(raw: String): Any = raw match {
    case s if s.startsWith("\"") && s.endsWith("\"") && s.length >= 2 =>
      unescape(s.substring(1, s.length - 1))
    case s if s.startsWith("[") && s.endsWith("]") =>
      val body = s.substring(1, s.length - 1).trim
      if (body.isEmpty) Seq.empty[Any]
      else splitTopLevel(body).map(e => parseValue(e.trim))
    case "true"  => true
    case "false" => false
    case s       => s.toLongOption.getOrElse(
      s.toDoubleOption.getOrElse(s))
  }

  /** Split on commas that are not inside a quoted string (backslash
    * escapes honored, mirroring stripComment).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inStr = false
    var esc = false
    s.foreach { c =>
      if (esc) { cur += c; esc = false }
      else if (inStr && c == '\\') { cur += c; esc = true }
      else if (c == '"') { inStr = !inStr; cur += c }
      else if (c == ',' && !inStr) { out += cur.toString; cur.clear() }
      else cur += c
    }
    out += cur.toString
    out.toSeq
  }

  private def deepImmutable(v: Any): Any = v match {
    case m: scala.collection.mutable.Map[_, _] =>
      m.map { case (k, x) => k.toString -> deepImmutable(x) }.toMap
    case a: scala.collection.mutable.ArrayBuffer[_] =>
      a.map(deepImmutable).toSeq
    case other => other
  }

  def fromToml(text: String): EngineConfig = {
    val t = parseToml(text)
    def section(name: String): Map[String, Any] =
      t.getOrElse(name, Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
    def str(m: Map[String, Any], k: String, d: String = ""): String =
      m.get(k).map(_.toString).getOrElse(d)
    def int(m: Map[String, Any], k: String, d: Int = 0): Int =
      m.get(k).map(_.toString.toInt).getOrElse(d)
    val mqtt = section("mqtt")
    val db = section("database")
    val pipe = section("pipeline")
    // `select` accepts an array OR a bare string (a one-expression select
    // list is a natural thing to write in TOML); anything else names the
    // route and key in the error instead of a bare ClassCastException —
    // config-only deployment deserves config-quality load errors.
    def selectList(r: Map[String, Any], i: Int): Seq[String] =
      r.get("select") match {
        case None              => Nil
        case Some(s: Seq[_])   => s.zipWithIndex.map {
          case (e: String, _) => e
          case (other, j)     => throw new IllegalArgumentException(
            s"route $i: `select[$j]` must be a string, got: $other")
        }
        case Some(s: String)   => Seq(s)
        case Some(other)       => throw new IllegalArgumentException(
          s"route $i: `select` must be a string or an array of strings, " +
            s"got: $other")
      }
    def recordList(r: Map[String, Any], i: Int): Seq[RecordConfig] =
      r.getOrElse("records", Seq.empty).asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
        .zipWithIndex
        .map { case (g, j) => RecordConfig(
          table = str(g, "table"),
          select = selectList(g, i),
          where = str(g, "where")) }
    val routes = t.getOrElse("routes", Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
      .zipWithIndex
      .map { case (r, i) => RouteConfig(
        filter = str(r, "filter"),
        script = str(r, "script"),
        workers = int(r, "workers", 1),
        queueSize = int(r, "queue_size", 100),
        table = str(r, "table", Router.DefaultTable),
        select = selectList(r, i),
        where = str(r, "where"),
        records = recordList(r, i)) }
    EngineConfig(
      mqtt = MqttConfig(
        broker = str(mqtt, "broker"),
        clientId = str(mqtt, "client_id"),
        username = str(mqtt, "username"),
        password = str(mqtt, "password"),
        topics = mqtt.getOrElse("topics", Seq.empty).asInstanceOf[Seq[Any]]
          .map(_.toString),
        qos = int(mqtt, "qos")),
      database = DatabaseConfig(
        host = str(db, "host"),
        port = int(db, "port"),
        user = str(db, "user"),
        password = str(db, "password"),
        database = str(db, "database"),
        sslmode = str(db, "sslmode"),
        poolSize = int(db, "pool_size")),
      pipeline = PipelineConfig(
        luaScript = str(pipe, "lua_script"),
        tableName = str(pipe, "table_name")),
      routes = routes,
      validation = ValidationConfig(
        strictTypes = section("validation").get("strict_types")
          .exists(_.toString.toBoolean)))
  }
}
