package graft.api

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftEngine, GraftSession, SparkProfile}
import graft.planner.PathResolver

/** MCP (Model Context Protocol) server over the engine — the reference ships the
  * same surface as `mcp-server/app/wren.py:255-603`: deploy/validate a manifest,
  * query/dry-run against it, and browse tables/columns/relationships/functions.
  *
  * Transport is MCP's stdio framing (newline-delimited JSON-RPC 2.0). The server is
  * a class over explicit streams so the protocol is testable in-process
  * (`McpServerSpec`); `graft.api.Mcp` mains it over stdin/stdout.
  *
  * Tool results follow MCP shape: `{content: [{type: "text", text: ...}], isError}`.
  * Like the reference, the server is stateful: one deployed manifest at a time
  * (`deploy_manifest` replaces it), and query tools error until one is deployed.
  */
final class McpServer(
    spark: SparkSession, dataDir: String,
    // per-user default like the reference's ~/.wren/memory — a shared
    // java.io.tmpdir path would make concurrent servers (or different users
    // on one host) contend on one store
    memoryDir: String = java.nio.file.Paths.get(
      System.getProperty("user.home"), ".graft", "memory").toString) {

  @volatile private var session: Option[GraftSession] = None
  @volatile private var manifestJson: Option[String] = None
  private lazy val memory = new graft.memory.MemoryStore(spark, memoryDir)

  private case class Tool(name: String, description: String, params: Seq[(String, String)])

  private val tools = Seq(
    Tool("deploy", "Deploy an MDL manifest from a file path (JSON, or a YAML project directory)",
      Seq("mdl_file_path" -> "path to manifest JSON / YAML project dir")),
    Tool("deploy_manifest", "Deploy an MDL manifest (JSON object or base64) to the engine",
      Seq("mdl" -> "the manifest JSON (object as string, or base64)")),
    Tool("mdl_validate_manifest", "Validate a manifest without deploying it",
      Seq("mdl" -> "the manifest JSON to validate")),
    Tool("is_deployed", "Whether a manifest is currently deployed", Nil),
    Tool("get_manifest", "The currently deployed manifest JSON", Nil),
    Tool("query", "Run SQL against the deployed models; answers the v3 result JSON",
      Seq("sql" -> "SQL over model/view names")),
    Tool("dry_run", "Plan the SQL without executing (validates names, access rules)",
      Seq("sql" -> "SQL over model/view names")),
    Tool("get_available_tables", "List deployed model and view names", Nil),
    Tool("list_remote_tables", "Tables visible in the underlying data directory (pre-deploy discovery)", Nil),
    Tool("list_remote_constraints", "Declared FK-style constraints derived from the deployed relationships", Nil),
    Tool("get_table_info", "Columns (name, type) of one deployed model",
      Seq("table_name" -> "model name")),
    Tool("get_table_columns_info", "All columns of one model keyed by name, full definitions",
      Seq("table_name" -> "model name")),
    Tool("get_column_info", "One column's manifest definition",
      Seq("table_name" -> "model name", "column_name" -> "column name")),
    Tool("get_relationships", "Declared relationships of the deployed manifest", Nil),
    Tool("get_available_functions", "The engine's function listing", Nil),
    Tool("get_current_data_source_type", "The deployed manifest's dataSource (engine executes on Spark)", Nil),
    Tool("get_wren_guide", "Short usage guide for this engine's MCP surface", Nil),
    Tool("health_check", "Liveness probe", Nil),
    // schema/query memory (the reference's `wren memory` surface,
    // wren/src/wren/memory/cli.py — index/fetch/store/recall/status/reset)
    Tool("memory_index", "Index the deployed manifest's schema into memory (+ seed NL-SQL pairs)", Nil),
    Tool("memory_describe", "The deployed schema as structured plain text", Nil),
    Tool("memory_get_context", "Schema context for a question: full text for small schemas, embedding search for large",
      Seq("query" -> "the natural-language question")),
    Tool("memory_store_query", "Store an NL-SQL pair for future few-shot retrieval",
      Seq("nl" -> "natural language query", "sql" -> "corresponding SQL")),
    Tool("memory_recall_queries", "Search past NL-SQL pairs by similarity",
      Seq("query" -> "search query")),
    Tool("memory_status", "Memory index statistics", Nil),
    Tool("memory_reset", "Drop all memory tables", Nil))

  // ---- JSON helpers --------------------------------------------------------

  private def js(s: String): JValue = JString(s)

  private def textResult(text: String, isError: Boolean = false): JValue =
    JObject(
      "content" -> JArray(List(JObject("type" -> js("text"), "text" -> js(text)))),
      "isError" -> JBool(isError))

  private def argStr(args: JValue, name: String): String = args \ name match {
    case JString(s) => s
    case JNothing | JNull => throw new IllegalArgumentException(s"missing argument: $name")
    case other => JsonMethods.compact(other)
  }

  private def deployed: GraftSession =
    session.getOrElse(throw new IllegalStateException(
      "no manifest deployed — call deploy_manifest first"))

  // ---- tool dispatch -------------------------------------------------------

  private def callTool(name: String, args: JValue): JValue = name match {
    case "deploy" =>
      val path = java.nio.file.Paths.get(argStr(args, "mdl_file_path"))
      if (java.nio.file.Files.isDirectory(path)) {
        val issues = graft.mdl.YamlProject.validate(path)
        if (issues.nonEmpty) return textResult(issues.mkString("; "), isError = true)
        val mdlJson = graft.mdl.YamlProject.buildManifestJson(path)
        session = Some(GraftEngine.deployJson(spark, mdlJson, new PathResolver(dataDir)))
        manifestJson = Some(mdlJson)
      } else {
        val mdl = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        session = Some(GraftEngine.deployJson(spark, mdl, new PathResolver(dataDir)))
        manifestJson = Some(mdl)
      }
      textResult("deployed")
    case "deploy_manifest" =>
      val mdl = argStr(args, "mdl")
      session = Some(GraftEngine.deployJson(spark, mdl, new PathResolver(dataDir)))
      manifestJson = Some(mdl)
      textResult("deployed")
    case "mdl_validate_manifest" =>
      val m = graft.mdl.ManifestJson.parse(argStr(args, "mdl"))
      m.validateLayoutVersion()
      val problems = m.models.filter(_.columns.isEmpty).map(x => s"model ${x.name}: no columns") ++
        m.cubes.map(graft.semantics.Validator.cubeHierarchyIsValid)
          .filter(!_.valid).map(_.message)
      if (problems.isEmpty) textResult("valid")
      else textResult(problems.mkString("; "), isError = true)
    case "is_deployed" => textResult(session.isDefined.toString)
    case "get_manifest" => textResult(manifestJson.getOrElse("null"))
    case "query" => textResult(deployed.queryJson(argStr(args, "sql")))
    case "dry_run" =>
      deployed.dryRun(argStr(args, "sql")); textResult("ok")
    case "get_available_tables" =>
      val m = deployed.manifest
      textResult(JsonMethods.compact(JArray(
        (m.models.map(_.name) ++ m.views.map(_.name)).map(js).toList)))
    case "get_table_info" =>
      val model = deployed.manifest.model(argStr(args, "table_name"))
        .getOrElse(throw new IllegalArgumentException("no such model"))
      textResult(JsonMethods.compact(JArray(model.columns.map(c =>
        JObject("name" -> js(c.name), "type" -> js(c.`type`))).toList)))
    case "get_column_info" =>
      val model = deployed.manifest.model(argStr(args, "table_name"))
        .getOrElse(throw new IllegalArgumentException("no such model"))
      val c = model.column(argStr(args, "column_name"))
        .getOrElse(throw new IllegalArgumentException("no such column"))
      textResult(JsonMethods.compact(JObject(
        "name" -> js(c.name), "type" -> js(c.`type`),
        "expression" -> c.expression.map(js).getOrElse(JNull),
        "isCalculated" -> JBool(c.isCalculated),
        "relationship" -> c.relationship.map(js).getOrElse(JNull))))
    case "list_remote_tables" =>
      // pre-deploy discovery over the data directory (the reference asks the
      // remote warehouse; file-backed deployments list source tables)
      val dir = new java.io.File(dataDir)
      val names = Option(dir.list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
      textResult(JsonMethods.compact(JArray(names.map(js).toList)))
    case "list_remote_constraints" =>
      // the reference derives constraints from relationships (metadata/constraints)
      textResult(JsonMethods.compact(JArray(deployed.manifest.relationships.map(r =>
        JObject(
          "constraintName" -> js(r.name),
          "constraintType" -> js("FOREIGN KEY"),
          "constraintCondition" -> js(r.condition),
          "models" -> JArray(r.models.map(js)))).toList)))
    case "get_table_columns_info" =>
      val model = deployed.manifest.model(argStr(args, "table_name"))
        .getOrElse(throw new IllegalArgumentException("no such model"))
      textResult(JsonMethods.compact(JObject(model.columns.map(c =>
        c.name -> (JObject(
          "type" -> js(c.`type`),
          "expression" -> c.expression.map(js).getOrElse(JNull),
          "isCalculated" -> JBool(c.isCalculated),
          "notNull" -> JBool(c.notNull),
          "relationship" -> c.relationship.map(js).getOrElse(JNull)): JValue)))))
    case "get_current_data_source_type" =>
      textResult(deployed.manifest.dataSource.getOrElse("spark"))
    case "get_wren_guide" =>
      textResult(
        """graft engine MCP guide:
          |1. deploy_manifest (inline JSON) or deploy (file path / YAML project dir)
          |2. browse: get_available_tables, get_table_info, get_table_columns_info,
          |   get_column_info, get_relationships, get_available_functions
          |3. run: query (v3 result JSON) / dry_run (plan-only validation)
          |SQL is written against MODEL names; access control (RLAC/CLAC) and
          |calculated fields come from the deployed manifest.""".stripMargin)
    case "get_relationships" =>
      textResult(JsonMethods.compact(JArray(deployed.manifest.relationships.map(r =>
        JObject("name" -> js(r.name), "models" -> JArray(r.models.map(js)),
          "joinType" -> js(r.joinType), "condition" -> js(r.condition))).toList)))
    case "get_available_functions" =>
      textResult(JsonMethods.compact(JArray(
        graft.functions.GraftFunctions.listing.map(f =>
          JObject("name" -> js(f.name), "type" -> js(f.kind),
            "description" -> js(f.description))).toList)))
    case "health_check" => textResult("ok")
    case "memory_index" =>
      val (schemaCount, seedCount) = memory.indexSchema(deployed.manifest)
      textResult(JsonMethods.compact(JObject(
        "schema_items" -> JInt(schemaCount), "seed_queries" -> JInt(seedCount))))
    case "memory_describe" =>
      textResult(graft.memory.SchemaIndexer.describeSchema(deployed.manifest))
    case "memory_get_context" =>
      val limit = args \ "limit" match {
        case JInt(i) => i.toInt
        case JString(s) if s.forall(_.isDigit) && s.nonEmpty => s.toInt
        case _ => 5
      }
      deployed.manifest // require a deployment, like the query tools
      val ctx = memory.getContext(deployed.manifest, argStr(args, "query"),
        limit = limit,
        itemType = (args \ "item_type") match { case JString(s) => Some(s); case _ => None },
        modelName = (args \ "model_name") match { case JString(s) => Some(s); case _ => None })
      ctx match {
        case graft.memory.FullContext(schema) =>
          textResult(JsonMethods.compact(JObject(
            "strategy" -> js("full"), "schema" -> js(schema))))
        case graft.memory.SearchContext(results) =>
          textResult(JsonMethods.compact(JObject(
            "strategy" -> js("search"),
            "results" -> JArray(results.toList.map(mapToJson)))))
      }
    case "memory_store_query" =>
      memory.storeQuery(argStr(args, "nl"), argStr(args, "sql"),
        datasource = (args \ "datasource") match { case JString(s) => Some(s); case _ => None },
        tags = (args \ "tags") match { case JString(s) => Some(s); case _ => None })
      textResult("stored")
    case "memory_recall_queries" =>
      val limit = args \ "limit" match {
        case JInt(i) => i.toInt
        case _ => 3
      }
      textResult(JsonMethods.compact(JArray(
        memory.recallQueries(argStr(args, "query"), limit = limit,
          datasource = (args \ "datasource") match { case JString(s) => Some(s); case _ => None })
          .toList.map(mapToJson))))
    case "memory_status" =>
      val (p, tables) = memory.status()
      textResult(JsonMethods.compact(JObject(
        "path" -> js(p),
        "tables" -> JObject(tables.toList.sortBy(_._1).map {
          case (n, c) => n -> (JInt(c): JValue)
        }))))
    case "memory_reset" =>
      memory.reset(); textResult("reset")
    case other => textResult(s"unknown tool: $other", isError = true)
  }

  private def mapToJson(m: Map[String, Any]): JValue = JObject(m.toList.map {
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

  // ---- JSON-RPC loop -------------------------------------------------------

  private def toolSchema(t: Tool): JValue = JObject(
    "name" -> js(t.name),
    "description" -> js(t.description),
    "inputSchema" -> JObject(
      "type" -> js("object"),
      "properties" -> JObject(t.params.map { case (n, d) =>
        n -> (JObject("type" -> js("string"), "description" -> js(d)): JValue)
      }.toList),
      "required" -> JArray(t.params.map(p => js(p._1)).toList)))

  private def handle(msg: JValue): Option[JValue] = {
    val id = msg \ "id"
    def reply(result: JValue): Option[JValue] =
      Some(JObject("jsonrpc" -> js("2.0"), "id" -> id, "result" -> result))
    (msg \ "method") match {
      case JString("initialize") => reply(JObject(
        "protocolVersion" -> ((msg \ "params" \ "protocolVersion") match {
          case s: JString => s
          case _ => js("2024-11-05")
        }),
        "capabilities" -> JObject("tools" -> JObject()),
        "serverInfo" -> JObject("name" -> js("graft-engine"), "version" -> js("0.2"))))
      case JString("ping") => reply(JObject())
      case JString("tools/list") =>
        reply(JObject("tools" -> JArray(tools.map(toolSchema).toList)))
      case JString("tools/call") =>
        val name = (msg \ "params" \ "name") match {
          case JString(s) => s
          case _ => ""
        }
        val result =
          try callTool(name, msg \ "params" \ "arguments")
          catch { case NonFatal(e) => textResult(Option(e.getMessage).getOrElse(e.toString), isError = true) }
        reply(result)
      case JString(_) if id == JNothing => None // notification: ignore
      case JString(m) => Some(JObject(
        "jsonrpc" -> js("2.0"), "id" -> id,
        "error" -> JObject("code" -> JInt(-32601), "message" -> js(s"method not found: $m"))))
      case _ => None
    }
  }

  /** Serve newline-delimited JSON-RPC until EOF. */
  def serve(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    val writer = new PrintWriter(new java.io.OutputStreamWriter(out, UTF_8), true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val response =
          try handle(JsonMethods.parse(line))
          catch {
            case NonFatal(_) => Some(JObject(
              "jsonrpc" -> js("2.0"), "id" -> JNull,
              "error" -> JObject("code" -> JInt(-32700), "message" -> js("parse error"))))
          }
        response.foreach(r => writer.println(JsonMethods.compact(r)))
      }
      line = reader.readLine()
    }
  }
}

/** Stdio main: `runMain graft.api.Mcp <dataDir>` (MCP client config points here). */
object Mcp {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Mcp <dataDir>")
    val spark = SparkProfile.session("graft-mcp") // logs at ERROR: stdout belongs to the protocol
    new McpServer(spark, args(0)).serve(System.in, System.out)
  }
}
