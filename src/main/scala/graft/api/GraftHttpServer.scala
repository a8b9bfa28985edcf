package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftEngine, SparkProfile}
import graft.planner.PathResolver

/** Thin HTTP façade over the engine library, mirroring the reference's production
  * entry points (`ibis-server/app/routers/v3/connector.py:70-479`):
  *
  *   - `POST /v3/connector/{ds}/query[?dryRun=true][&limit=n]` — body
  *     `{"sql": ..., "manifestStr": <json-or-base64>}`; dry run answers 204 with no
  *     body, otherwise the v3 result JSON (columns/data/dtypes).
  *   - `POST /v3/connector/{ds}/dry-plan` — the planned form of the SQL (the
  *     engine's `transformSql`): with a `dialect`, the optimized plan unparsed to
  *     that dialect's SQL (the reference's Mode::Unparse); without one, the
  *     Catalyst plan dump.
  *   - `POST /v3/connector/{ds}/validate/{rule}` — `column_is_valid` /
  *     `relationship_is_valid` / `rlac_condition_syntax_is_valid` /
  *     `cube_hierarchy_is_valid` probes; 204 when valid, 422 with the message.
  *   - `POST /v3/connector/{ds}/model-substitute` — SQL against physical table
  *     names rewritten to the governing models (`connector.py:482-540`), returned as
  *     `{"sql": rewritten}` after a dry-run check.
  *   - `GET  /v3/connector/{ds}/functions` — the function listing
  *     (`connector.py:428-459`).
  *   - `POST /v3/connector/{ds}/metadata/tables` — model/column metadata
  *     (`routers/v2/connector.py` metadata analogue).
  *
  * The deprecated-but-served legacy v2 surface (`ibis-server/app/routers/v2/
  * connector.py:66-384`) aliases the same handlers: `POST /v2/connector/{ds}/
  * query|dry-plan|validate/{rule}|model-substitute|metadata/...`, plus the ds-less
  * `POST /v2/connector/dry-plan` and `POST /v2/analysis/sql[s]` (POST-only; other
  * methods answer 405). `GET /v{2,3}/connector/{ds}/knowledge` serves the
  * per-datasource SQL-knowledge blob (`connector.py:552-565`, [[SqlKnowledge]]).
  *
  * Per-query session properties come from `x-wren-variable-*` headers and the
  * timezone from `x-wren-timezone` (`app/dependencies.py:8-11`,
  * `app/mdl/rewriter.py:177-189`), exactly like the reference; `{ds}` is accepted
  * and ignored (a single Spark runtime serves every deployment here).
  *
  * Each manifest is deployed once, on its first request, and kept in a 64-entry
  * LRU map; every other property set derives from that deployment through
  * `GraftSession.withExactProperties`, so repeated calls do not re-deploy.
  */
final class GraftHttpServer(
    spark: SparkSession, dataDir: String, port: Int = 0,
    profilesHome: java.nio.file.Path = Profiles.defaultHome) {

  // The JDK server sends a reply's headers and body separately; without TCP_NODELAY
  // the body waits ~40 ms for the client's delayed ACK. The JDK reads the flag when
  // the JVM's first server is created; a value given at JVM start wins.
  sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val sessions: java.util.Map[String, graft.GraftSession] =
    java.util.Collections.synchronizedMap(graft.LruCache.accessOrderedMap(64))

  /** Profile store behind the /v1/profile browser-form routes. */
  private lazy val profiles = new Profiles(profilesHome)

  /** Server-wide result cache for `?cacheEnable=true` queries (the reference's
    * query_cache_manager; hit/create/override surfaced as X-Cache-* headers).
    */
  private lazy val queryCache = new QueryCache(
    java.nio.file.Files.createTempDirectory("graft_http_cache_").toString)

  /** Server-scoped schema/query memory behind the /v1/memory routes. */
  private lazy val memoryStore = new graft.memory.MemoryStore(
    spark, java.nio.file.Files.createTempDirectory("graft_http_memory_").toString)

  private def parseBody(ex: HttpExchange): JValue =
    try JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(s"malformed JSON body: ${e.getOriginalMessage}")
    }

  private def jint(j: JValue): Option[Int] = j match {
    case JInt(i) => Some(i.toInt)
    case JString(s) if s.nonEmpty && s.forall(_.isDigit) => Some(s.toInt)
    case _ => None
  }

  private def memoryManifest(body: JValue): graft.mdl.Manifest = {
    val manifestStr = required(body, "manifestStr")
    if (manifestStr.trim.startsWith("{")) graft.mdl.ManifestJson.parse(manifestStr)
    else graft.mdl.ManifestJson.parseBase64(manifestStr)
  }

  private def memRowJson(m: Map[String, Any]): JValue = JObject(m.toList.map {
    case (k, v) => k -> (v match {
      case null => JNull
      case d: Double => JDouble(d)
      case l: Long => JInt(BigInt(l))
      case i: Int => JInt(BigInt(i))
      case b: Boolean => JBool(b)
      case ts: java.sql.Timestamp => JString(ts.toInstant.toString)
      case other => JString(other.toString)
    })
  })

  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // one request at a time: the routes that mutate shared state still rely on
    // it (ROADMAP item 4 orders the steps to a request pool)
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = server.stop(0)

  // ---- request plumbing ----------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: String, cType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", cType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def detail(msg: String): String =
    JsonMethods.compact(JObject("detail" -> JString(Option(msg).getOrElse("error"))))

  /** The reference's structured error envelope for ENGINE errors
    * (`app/model/error.py:55-62`, emitted by the WrenError/Exception handlers in
    * `app/main.py:77-113`): errorCode/message/metadata/phase/timestamp plus the
    * echoed X-Correlation-ID. Request-shape errors (missing fields, malformed JSON)
    * keep the FastAPI `detail` shape, exactly as the reference's DTO validation
    * does.
    */
  private def envelope(ex: HttpExchange, code: String, msg: String): String = {
    val corr = Option(ex.getRequestHeaders.getFirst("X-Correlation-ID"))
    JsonMethods.compact(JObject(
      "errorCode" -> JString(code),
      "message" -> JString(Option(msg).getOrElse("error")),
      "metadata" -> JNull,
      "phase" -> JNull,
      "timestamp" -> JString(java.time.OffsetDateTime.now().toString),
      "correlationId" -> corr.map(JString).getOrElse(JNull)))
  }

  private def fnJson(f: graft.functions.GraftFunctions.FnSpec): JObject =
    JObject(
      "name" -> JString(f.name), "function_type" -> JString(f.kind),
      "param_types" -> JString(f.signature), "return_type" -> JString(f.returns),
      "description" -> JString(f.description))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split('&').filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        // percent-decode: a ?name=my%20profile must round-trip as
        // "my profile", not re-encode into my%2520profile on form submit
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  /** x-wren-variable-* headers → session properties; x-wren-timezone → timezone. */
  private def headerProperties(ex: HttpExchange): Map[String, String] = {
    val hs = ex.getRequestHeaders.asScala
    val vars = hs.collect {
      case (k, vs) if k.toLowerCase.startsWith("x-wren-variable-") && !vs.isEmpty =>
        k.toLowerCase.stripPrefix("x-wren-variable-") -> vs.get(0)
    }.toMap
    val tz = hs.collectFirst {
      case (k, vs) if k.equalsIgnoreCase("x-wren-timezone") && !vs.isEmpty =>
        "timezone" -> vs.get(0)
    }
    vars ++ tz
  }

  private def jstr(j: JValue): Option[String] = j match {
    case JString(s) if s.nonEmpty => Some(s)
    case _ => None
  }

  /** A non-empty string field, or a 422 naming it. */
  private def required(body: JValue, field: String): String =
    jstr(body \ field).getOrElse(throw new IllegalArgumentException(s"$field is required"))

  /** One base deployment per manifest (built on first request, under that request's
    * header properties); every other property set derives via `withExactProperties`,
    * which re-resolves only RLAC/CLAC against the shared planner — no full re-deploy
    * per tenant, and exact (non-merging) semantics so one tenant's properties never
    * leak into another request.
    */
  private def session(manifestStr: String, props: Map[String, String]): graft.GraftSession = {
    val cached = sessions.get(manifestStr)
    if (cached != null) cached.withExactProperties(props)
    else {
      val s =
        try GraftEngine.deployJson(spark, manifestStr, new PathResolver(dataDir), props)
        catch {
          // manifest shape errors are client errors (422), not server faults
          case e: RuntimeException if e.getCause == null && !e.isInstanceOf[IllegalArgumentException] =>
            throw new IllegalArgumentException(s"invalid manifest: ${e.getMessage}")
        }
      sessions.put(manifestStr, s) // evicts the least recently used deployment
      s
    }
  }

  // ---- routes --------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      // engine errors carry the reference's ErrorResponse envelope with its
      // error-code → HTTP-status mapping (error.py:96-113)
      case e: graft.QueryTimeoutException =>
        respond(ex, 504, envelope(ex, "DATABASE_TIMEOUT", e.getMessage))
      case e: graft.planner.GraftException =>
        respond(ex, 422, envelope(ex, "GENERIC_USER_ERROR", e.getMessage))
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 422, envelope(ex, "INVALID_SQL", e.getMessage))
      // request-shape errors (missing fields, malformed JSON, unknown rule names)
      // keep the FastAPI detail shape, like the reference's DTO validation
      case e: IllegalArgumentException => respond(ex, 422, detail(e.getMessage))
      case NonFatal(e) =>
        respond(ex, 500, envelope(ex, "GENERIC_INTERNAL_ERROR", e.toString))
    }

  private def route(ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty).toList
    val method = ex.getRequestMethod.toUpperCase
    (method, segs) match {
      case ("GET", "v3" :: "connector" :: _ :: "functions" :: Nil) =>
        respond(ex, 200, JsonMethods.compact(JArray(
          graft.functions.GraftFunctions.listing.map(fnJson).toList)))

      // Single-function lookup (reference: GET /{ds}/function/{name},
      // connector.py:459-479 — answers a list, empty when unknown). Both the
      // reference's singular `function` segment and the plural are accepted.
      case ("GET", "v3" :: "connector" :: _ :: seg :: name :: Nil)
          if seg == "functions" || seg == "function" =>
        val hits = graft.functions.GraftFunctions.listing
          .filter(_.name.equalsIgnoreCase(name))
        respond(ex, 200, JsonMethods.compact(JArray(hits.map(fnJson).toList)))

      // App-level routes (reference: app/main.py:59-73): health probe and the
      // diagnose-flag config, readable and PATCHable.
      case ("GET", "health" :: Nil) =>
        respond(ex, 200, """{"status":"ok"}""")
      case ("GET", "config" :: Nil) =>
        respond(ex, 200, s"""{"diagnose":${GraftHttpServer.diagnose.get()}}""")
      case ("PATCH", "config" :: Nil) =>
        parseBody(ex) \ "diagnose" match {
          case JBool(b) => GraftHttpServer.diagnose.set(b)
          case _ => // absent -> unchanged, like ConfigModel's optional field
        }
        respond(ex, 200, s"""{"diagnose":${GraftHttpServer.diagnose.get()}}""")

      // Per-datasource SQL knowledge blob for agent/MCP consumers (reference:
      // GET /v3/connector/{ds}/knowledge, connector.py:552-565 — text-to-SQL rule,
      // topic instructions, correction rule). `{ds}` selects the dialect note.
      case ("GET", ("v2" | "v3") :: "connector" :: ds :: "knowledge" :: Nil) =>
        respond(ex, 200, JsonMethods.compact(SqlKnowledge.forDataSource(ds)))

      // Browser profile-creation form (the reference's `wren profile add
      // --web` uvicorn app, wren/src/wren/profile_web.py:40-160, over the
      // same three routes): the form page, the per-datasource fields
      // fragment, and the save handler (form-encoded or a `_json` blob).
      case ("GET", "v1" :: "profile" :: "form" :: Nil) =>
        val name = queryParams(ex).getOrElse("name", "default")
        respond(ex, 200, ProfileWeb.formPage(name), cType = "text/html; charset=utf-8")
      case ("GET", "v1" :: "profile" :: "fields" :: Nil) =>
        val params = queryParams(ex)
        respond(ex, 200,
          ProfileWeb.fieldsFragment(
            params.getOrElse("datasource", ""), params.get("_variant")),
          cType = "text/html; charset=utf-8")
      case ("POST", "v1" :: "profile" :: "save" :: Nil) =>
        val form = ProfileWeb.parseForm(
          new String(ex.getRequestBody.readAllBytes(), UTF_8))
        ProfileWeb.save(profiles, form) match {
          case Right(msg) => respond(ex, 200, msg, cType = "text/html; charset=utf-8")
          case Left((code, msg)) =>
            respond(ex, code, msg, cType = "text/html; charset=utf-8")
        }

      // Connection-info reference docs (the reference's `wren docs
      // connection-info` CLI, wren/src/wren/docs.py, served over HTTP):
      // ?datasource= filters, ?format=json-schema switches to the envelope
      // JSON; unknown sources answer the reference's ValueError message as 4xx
      case ("GET", "v1" :: "docs" :: "connection-info" :: Nil) =>
        val params = queryParams(ex)
        val ds = params.get("datasource")
        if (params.get("format").contains("json-schema"))
          respond(ex, 200, graft.planner.ConnectionDocs.jsonSchemaEnvelope(ds))
        else respond(ex, 200, graft.planner.ConnectionDocs.markdown(ds),
          cType = "text/markdown; charset=utf-8")

      // Schema/query memory (the reference's `wren memory` surface,
      // wren/src/wren/memory/cli.py, served over HTTP for agent consumers):
      // index the manifest, fetch context for a question, store/recall
      // NL-SQL pairs, status/reset. Body carries manifestStr (json-or-base64)
      // where a manifest is needed.
      case ("POST", "v1" :: "memory" :: "index" :: Nil) =>
        val body = parseBody(ex)
        val m = memoryManifest(body)
        val (schemaCount, seedCount) = memoryStore.indexSchema(
          m, seedQueries = (body \ "noSeed") != JBool(true))
        respond(ex, 200, JsonMethods.compact(JObject(
          "schema_items" -> JInt(schemaCount), "seed_queries" -> JInt(seedCount))))
      case ("POST", "v1" :: "memory" :: "context" :: Nil) =>
        val body = parseBody(ex)
        val query = required(body, "query")
        val ctx = memoryStore.getContext(
          memoryManifest(body), query,
          limit = jint(body \ "limit").getOrElse(5),
          itemType = jstr(body \ "itemType"), modelName = jstr(body \ "modelName"),
          threshold = jint(body \ "threshold")
            .getOrElse(graft.memory.SchemaIndexer.SchemaDescribeThreshold))
        val out = ctx match {
          case graft.memory.FullContext(schema) =>
            JObject("strategy" -> JString("full"), "schema" -> JString(schema))
          case graft.memory.SearchContext(results) =>
            JObject("strategy" -> JString("search"),
              "results" -> JArray(results.toList.map(memRowJson)))
        }
        respond(ex, 200, JsonMethods.compact(out))
      case ("POST", "v1" :: "memory" :: "query" :: Nil) =>
        val body = parseBody(ex)
        memoryStore.storeQuery(required(body, "nl"), required(body, "sql"),
          datasource = jstr(body \ "datasource"), tags = jstr(body \ "tags"))
        respond(ex, 200, """{"stored":true}""")
      case ("POST", "v1" :: "memory" :: "recall" :: Nil) =>
        val body = parseBody(ex)
        val results = memoryStore.recallQueries(
          required(body, "query"),
          limit = jint(body \ "limit").getOrElse(3),
          datasource = jstr(body \ "datasource"))
        respond(ex, 200, JsonMethods.compact(JArray(results.toList.map(memRowJson))))
      case ("GET", "v1" :: "memory" :: "status" :: Nil) =>
        val (p, tables) = memoryStore.status()
        respond(ex, 200, JsonMethods.compact(JObject(
          "path" -> JString(p),
          "tables" -> JObject(tables.toList.sortBy(_._1).map {
            case (n, c) => n -> (JInt(c): JValue)
          }))))
      case ("POST", "v1" :: "memory" :: "reset" :: Nil) =>
        memoryStore.reset()
        respond(ex, 204, "")

      // Decision-point SQL analysis (legacy v2 surface the UI consumes:
      // routers/v2/analysis.py → DecisionPointAnalyzer). Stateless — only parses.
      // The reference declares these GET (with a JSON body — FastAPI's
      // model-as-body on GET); POST is accepted too, anything else answers 405
      // instead of a confusing body-parse 4xx.
      case (m, "v2" :: "analysis" :: which :: Nil)
          if (which == "sql" || which == "sqls") && m != "POST" && m != "GET" =>
        respond(ex, 405, detail(s"method $m not allowed; use GET or POST"))
      case ("POST" | "GET", "v2" :: "analysis" :: which :: Nil)
          if which == "sql" || which == "sqls" =>
        val body = parseBody(ex)
        val out =
          if (which == "sql") {
            val sql = required(body, "sql")
            JArray(List(graft.semantics.QueryAnalyzer.analyze(spark, sql)))
          } else body \ "sqls" match {
            case JArray(sqls) => JArray(sqls.map(s => JArray(List(
              graft.semantics.QueryAnalyzer.analyze(spark, jstr(s).getOrElse(""))))))
            case _ => throw new IllegalArgumentException("sqls is required")
          }
        respond(ex, 200, JsonMethods.compact(out))

      // Legacy v2 ds-less dry-plan (POST /v2/connector/dry-plan,
      // routers/v2/connector.py:336-354): plan the SQL with no datasource context.
      case ("POST", "v2" :: "connector" :: "dry-plan" :: Nil) =>
        val body = parseBody(ex)
        val manifestStr = required(body, "manifestStr")
        val sql = required(body, "sql")
        respond(ex, 200, session(manifestStr, headerProperties(ex)).transformSql(sql),
          "text/plain")

      // v3 routes, plus the deprecated-but-served v2 connector aliases
      // (routers/v2/connector.py:66-384) — same DTO shape (sql/manifestStr body,
      // dryRun/cacheEnable/limit query params), same engine calls behind both.
      case ("POST", ("v2" | "v3") :: "connector" :: _ :: rest) =>
        val body = parseBody(ex)
        val manifestStr = required(body, "manifestStr")
        val props = headerProperties(ex)
        rest match {
          case "query" :: Nil =>
            val sql = required(body, "sql")
            val params = queryParams(ex)
            val sess = session(manifestStr, props)
            if (params.get("dryRun").exists(_.equalsIgnoreCase("true"))) {
              sess.dryRun(sql)
              respond(ex, 204, "")
            } else {
              val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(1000)
              val timeoutMs = params.get("timeout").flatMap(_.toLongOption).map(_ * 1000)
              val cacheEnable = params.get("cacheEnable").exists(_.equalsIgnoreCase("true"))
              val overrideCache = params.get("overrideCache").exists(_.equalsIgnoreCase("true"))
              def run(): String =
                if (!cacheEnable) sess.queryJson(sql, limit)
                else {
                  // cache semantics + headers per connector.py:126-204
                  val o = sess.queryCachedMeta(sql, queryCache, overrideCache)
                  val hs = ex.getResponseHeaders
                  hs.set("X-Cache-Hit", o.hit.toString)
                  o.createdAtMs.foreach(t => hs.set("X-Cache-Create-At", t.toString))
                  if (o.overridden) {
                    hs.set("X-Cache-Override", "true")
                    o.overriddenAtMs.foreach(t => hs.set("X-Cache-Override-At", t.toString))
                  }
                  ResultFormatter.toJsonResponse(o.df, limit)
                }
              val out = timeoutMs match {
                case Some(ms) => sess.withTimeout(ms)(run())
                case None => run()
              }
              respond(ex, 200, out)
            }

          case "dry-plan" :: Nil =>
            val sql = required(body, "sql")
            // optional dialect: spark|duckdb|postgres|mysql|bigquery|clickhouse|
            // snowflake|mssql|oracle|trino|redshift (plus the aliases
            // SqlUnparser.dialectFor accepts) → unparsed SQL text (the
            // reference's Mode::Unparse); absent → Catalyst plan dump
            val dialect = jstr(body \ "dialect").getOrElse("plan")
            respond(ex, 200, session(manifestStr, props).transformSql(sql, dialect),
              "text/plain")

          case "model-substitute" :: Nil =>
            // The reference answers with rewritten SQL text (connector.py:482-540);
            // this route returns the substituted plan's RESULT in the v3 response
            // shape (dialect SQL text for a model query comes from /dry-plan).
            val sql = required(body, "sql")
            val df = session(manifestStr, props).querySubstituted(sql)
            respond(ex, 200, ResultFormatter.toJsonResponse(df))

          case "validate" :: rule :: Nil =>
            val sess = session(manifestStr, props)
            val ps = body \ "parameters"
            val results = rule match {
              case "column_is_valid" =>
                Seq(sess.validateColumn(required(ps, "modelName"), required(ps, "columnName")))
              case "relationship_is_valid" => sess.validateRelationships()
              case "rlac_condition_syntax_is_valid" =>
                Seq(sess.validateRlacSyntax(required(ps, "condition")))
              case "cube_hierarchy_is_valid" => sess.validateCubeHierarchies()
              case other => throw new IllegalArgumentException(s"unknown validation rule $other")
            }
            results.find(!_.valid) match {
              case None => respond(ex, 204, "")
              case Some(bad) => respond(ex, 422, detail(s"${bad.rule}: ${bad.message}"))
            }

          case "metadata" :: "tables" :: Nil =>
            val md = session(manifestStr, props).metadata.map { case (table, cols) =>
              JObject(
                "name" -> JString(table),
                "columns" -> JArray(cols.map { case (n, t) =>
                  JObject("name" -> JString(n), "type" -> JString(t))
                }.toList))
            }
            respond(ex, 200, JsonMethods.compact(JArray(md.toList)))

          // FK constraints from the manifest relationships (reference Constraint DTO:
          // metadata/dto.py:138-145; served per connector.py's /metadata/constraints).
          // A relationship's condition `A.x = B.y` is one FOREIGN KEY edge.
          case "metadata" :: "constraints" :: Nil =>
            val m = session(manifestStr, props).manifest
            val cond = """(?s)\s*"?([\w]+)"?\."?([\w]+)"?\s*=\s*"?([\w]+)"?\."?([\w]+)"?\s*""".r
            val cs = m.relationships.flatMap { r =>
              r.condition match {
                case cond(t1, c1, t2, c2) => Some(JObject(
                  "constraintName" -> JString(r.name),
                  "constraintType" -> JString("FOREIGN KEY"),
                  "constraintTable" -> JString(t1),
                  "constraintColumn" -> JString(c1),
                  "constraintedTable" -> JString(t2),
                  "constraintedColumn" -> JString(c2)))
                case _ => None // composite/expression conditions have no FK shape
              }
            }
            respond(ex, 200, JsonMethods.compact(JArray(cs)))

          // Catalog → schemas listing (reference Catalog DTO: metadata/dto.py:127-129).
          case "metadata" :: "schemas" :: Nil =>
            val m = session(manifestStr, props).manifest
            respond(ex, 200, JsonMethods.compact(JArray(List(JObject(
              "name" -> JString(m.catalog),
              "schemas" -> JArray(List(JString(m.schema))))))))

          // Backend version string (reference: /metadata/version, connector.py:645+).
          case "metadata" :: "version" :: Nil =>
            respond(ex, 200, JsonMethods.compact(JString(s"Spark ${spark.version}")))

          case _ => respond(ex, 404, detail(s"no such route: ${ex.getRequestURI.getPath}"))
        }

      case _ => respond(ex, 404, detail(s"no such route: ${ex.getRequestURI.getPath}"))
    }
  }
}

object GraftHttpServer {
  /** Server-wide diagnose flag (the reference ConfigModel's one mutable setting,
    * app/config.py — verbose error payloads when on), shared across instances like
    * the reference's process-global config.
    */
  private[api] val diagnose = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Opt-in server main: `runMain graft.api.Serve <dataDir> [port]`. */
object Serve {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Serve <dataDir> [port]")
    val spark = SparkProfile.session("graft-serve")
    val server = new GraftHttpServer(spark, args(0), if (args.length > 1) args(1).toInt else 8000)
    val port = server.start()
    println(s"graft engine listening on http://127.0.0.1:$port/v3/connector/spark/query")
    Thread.currentThread.join()
  }
}
