package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Drives the v3 route surface end-to-end over real HTTP: query (+ dry run,
  * + per-query RLAC via x-wren-variable headers), dry-plan, validate, functions,
  * metadata, model-substitute, and the FastAPI-style 422 error shape.
  */
class HttpServerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val http = HttpClient.newHttpClient()

  private lazy val (server, port) = {
    val s = new GraftHttpServer(spark, TestSpark.sfDir, port = 0)
    (s, s.start())
  }

  private val manifestStr =
    """{"catalog":"web","schema":"demo",
      |"models":[
      |  {"name":"w_orders","tableReference":"orders","primaryKey":"o_orderkey",
      |   "columns":[
      |     {"name":"o_orderkey","type":"bigint"},
      |     {"name":"o_custkey","type":"bigint"},
      |     {"name":"o_totalprice","type":"double"},
      |     {"name":"o_orderstatus","type":"varchar"}],
      |   "rowLevelAccessControls":[
      |     {"name":"status_gate",
      |      "requiredProperties":[{"name":"session_status","required":true}],
      |      "condition":"o_orderstatus = @session_status"}]}
      |]}""".stripMargin

  private def post(path: String, body: String, headers: Map[String, String] = Map.empty)
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def bodyJson(sql: String): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.JObject(
        "sql" -> org.json4s.JString(sql),
        "manifestStr" -> org.json4s.JString(manifestStr)))

  test("query route answers the v3 result shape, honoring x-wren-variable RLAC headers") {
    val r = post("/v3/connector/spark/query?limit=7", bodyJson(
      "SELECT o_orderkey, o_orderstatus FROM w_orders ORDER BY o_orderkey"),
      Map("x-wren-variable-session_status" -> "F"))
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"columns\"") && r.body().contains("\"data\""))
    assert(!r.body().contains("\"O\""), "RLAC filter must drop non-matching statuses")

    // a different header value over the same deployment sees different rows
    val r2 = post("/v3/connector/spark/query?limit=7", bodyJson(
      "SELECT o_orderkey, o_orderstatus FROM w_orders ORDER BY o_orderkey"),
      Map("x-wren-variable-session_status" -> "O"))
    assert(r2.statusCode() == 200 && !r2.body().contains("\"F\""))
  }

  test("missing required RLAC property is a 422 with the engine error envelope") {
    val r = post("/v3/connector/spark/query", bodyJson("SELECT count(*) AS n FROM w_orders"),
      Map("X-Correlation-ID" -> "corr-42"))
    assert(r.statusCode() == 422, r.body())
    // engine errors carry the reference's ErrorResponse shape (error.py:55-62):
    // errorCode/message/timestamp + the echoed correlation id
    assert(r.body().contains("\"errorCode\"") && r.body().contains("GENERIC_USER_ERROR"), r.body())
    assert(r.body().contains("session_status"))
    assert(r.body().contains("\"correlationId\":\"corr-42\""), r.body())
    assert(r.body().contains("\"timestamp\""))
  }

  test("dryRun=true answers 204 with no body; bad SQL answers 422") {
    val ok = post("/v3/connector/spark/query?dryRun=true", bodyJson(
      "SELECT o_orderkey FROM w_orders"),
      Map("x-wren-variable-session_status" -> "F"))
    assert(ok.statusCode() == 204 && ok.body().isEmpty)

    val bad = post("/v3/connector/spark/query?dryRun=true", bodyJson(
      "SELECT no_such_col FROM w_orders"),
      Map("x-wren-variable-session_status" -> "F"))
    assert(bad.statusCode() == 422 && bad.body().contains("INVALID_SQL"), bad.body())
  }

  test("dry-plan returns the planned form") {
    val r = post("/v3/connector/spark/dry-plan", bodyJson(
      "SELECT o_orderkey FROM w_orders WHERE o_totalprice > 100"),
      Map("x-wren-variable-session_status" -> "F"))
    assert(r.statusCode() == 200)
    assert(r.body().contains("Relation") || r.body().contains("Project"), r.body().take(200))
  }

  test("dry-plan with a dialect body field returns unparsed SQL in that dialect") {
    def withDialect(d: String): java.net.http.HttpResponse[String] =
      post("/v3/connector/spark/dry-plan",
        org.json4s.jackson.JsonMethods.compact(org.json4s.JObject(
          "sql" -> org.json4s.JString("SELECT o_orderkey FROM w_orders WHERE o_totalprice > 100"),
          "manifestStr" -> org.json4s.JString(manifestStr),
          "dialect" -> org.json4s.JString(d))),
        Map("x-wren-variable-session_status" -> "F"))
    val duck = withDialect("duckdb")
    assert(duck.statusCode() == 200 && duck.body().contains("\"orders\""), duck.body().take(200))
    val my = withDialect("mysql")
    assert(my.statusCode() == 200 && my.body().contains("`orders`"), my.body().take(200))
    val pg = withDialect("postgres")
    assert(pg.statusCode() == 200 && pg.body().startsWith("SELECT"), pg.body().take(200))
  }

  test("validate routes: 204 on pass, 422 with rule name on fail") {
    val hdrs = Map("x-wren-variable-session_status" -> "F")
    assert(post("/v3/connector/spark/validate/column_is_valid",
      s"""{"manifestStr":${quoted(manifestStr)},"parameters":{"modelName":"w_orders","columnName":"o_orderkey"}}""",
      hdrs).statusCode() == 204)
    val bad = post("/v3/connector/spark/validate/column_is_valid",
      s"""{"manifestStr":${quoted(manifestStr)},"parameters":{"modelName":"w_orders","columnName":"nope"}}""",
      hdrs)
    assert(bad.statusCode() == 422 && bad.body().contains("column_is_valid"))
    assert(post("/v3/connector/spark/validate/rlac_condition_syntax_is_valid",
      s"""{"manifestStr":${quoted(manifestStr)},"parameters":{"condition":"o_orderkey = @session_status"}}""",
      hdrs).statusCode() == 204)
  }

  test("functions and metadata listings answer JSON") {
    val fns = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v3/connector/spark/functions")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(fns.statusCode() == 200 && fns.body().contains("date_bin"))

    val md = post("/v3/connector/spark/metadata/tables",
      s"""{"manifestStr":${quoted(manifestStr)}}""",
      Map("x-wren-variable-session_status" -> "F"))
    assert(md.statusCode() == 200 && md.body().contains("w_orders"))
  }

  test("model-substitute runs physical-name SQL through the governing model") {
    val r = post("/v3/connector/spark/model-substitute", bodyJson(
      "SELECT count(*) AS n FROM orders"),
      Map("x-wren-variable-session_status" -> "F"))
    assert(r.statusCode() == 200 && r.body().contains("\"n\""), r.body().take(200))
  }

  test("v2 analysis route decomposes SQL into decision points") {
    val r = post("/v2/analysis/sql",
      """{"sql":"SELECT o_custkey, sum(o_totalprice) AS t FROM orders WHERE o_custkey > 1 GROUP BY o_custkey"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"selectItems\""))
    assert(r.body().contains("\"tableName\":\"orders\""))
    assert(r.body().contains("\"includeFunctionCall\":\"true\""))
    val batch = post("/v2/analysis/sqls",
      """{"sqls":["SELECT 1 AS a","SELECT 2 AS b"]}""")
    assert(batch.statusCode() == 200)
    assert(batch.body().contains("\"a\"") && batch.body().contains("\"b\""))
  }

  test("unknown routes are 404") {
    assert(post("/v3/connector/spark/nope", bodyJson("SELECT 1")).statusCode() == 404)
  }

  private val relManifestStr =
    """{"catalog":"web","schema":"demo",
      |"models":[
      |  {"name":"w_nation","tableReference":"nation","primaryKey":"n_nationkey",
      |   "columns":[{"name":"n_nationkey","type":"int"},{"name":"n_regionkey","type":"int"}]},
      |  {"name":"w_region","tableReference":"region","primaryKey":"r_regionkey",
      |   "columns":[{"name":"r_regionkey","type":"int"}]}],
      |"relationships":[
      |  {"name":"nation_region","models":["w_nation","w_region"],"joinType":"MANY_TO_ONE",
      |   "condition":"\"w_nation\".\"n_regionkey\" = \"w_region\".\"r_regionkey\""}]}""".stripMargin

  test("metadata constraints route lists FK edges from manifest relationships") {
    val r = post("/v3/connector/spark/metadata/constraints",
      s"""{"manifestStr":${quoted(relManifestStr)}}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"constraintName\":\"nation_region\""))
    assert(r.body().contains("\"constraintType\":\"FOREIGN KEY\""))
    assert(r.body().contains("\"constraintTable\":\"w_nation\"")
      && r.body().contains("\"constraintColumn\":\"n_regionkey\""))
    assert(r.body().contains("\"constraintedTable\":\"w_region\"")
      && r.body().contains("\"constraintedColumn\":\"r_regionkey\""))
  }

  test("metadata schemas and version routes") {
    val s = post("/v3/connector/spark/metadata/schemas",
      s"""{"manifestStr":${quoted(relManifestStr)}}""")
    assert(s.statusCode() == 200 && s.body().contains("\"web\"") && s.body().contains("\"demo\""))
    val v = post("/v3/connector/spark/metadata/version",
      s"""{"manifestStr":${quoted(relManifestStr)}}""")
    assert(v.statusCode() == 200 && v.body().contains("Spark "))
  }

  test("single-function lookup answers a list; unknown names an empty one") {
    def get(path: String) = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    val hit = get("/v3/connector/spark/functions/date_bin")
    assert(hit.statusCode() == 200 && hit.body().contains("\"date_bin\""))
    val miss = get("/v3/connector/spark/function/definitely_not_a_function")
    assert(miss.statusCode() == 200 && miss.body() == "[]")
  }

  test("cacheEnable surfaces X-Cache-Hit / X-Cache-Create-At / X-Cache-Override headers") {
    val hdrs = Map("x-wren-variable-session_status" -> "F")
    val sql = "SELECT count(*) AS n FROM w_orders"
    val r1 = post("/v3/connector/spark/query?cacheEnable=true", bodyJson(sql), hdrs)
    assert(r1.statusCode() == 200, r1.body())
    assert(r1.headers().firstValue("X-Cache-Hit").orElse("") == "false")

    val r2 = post("/v3/connector/spark/query?cacheEnable=true", bodyJson(sql), hdrs)
    assert(r2.statusCode() == 200)
    assert(r2.headers().firstValue("X-Cache-Hit").orElse("") == "true")
    assert(r2.headers().firstValue("X-Cache-Create-At").isPresent)
    assert(r2.body() == r1.body(), "cache must serve the same result")

    val r3 = post("/v3/connector/spark/query?cacheEnable=true&overrideCache=true",
      bodyJson(sql), hdrs)
    assert(r3.statusCode() == 200)
    assert(r3.headers().firstValue("X-Cache-Hit").orElse("") == "false")
    assert(r3.headers().firstValue("X-Cache-Override").orElse("") == "true")
    assert(r3.headers().firstValue("X-Cache-Override-At").isPresent)
  }

  test("timeout parameter cancels a runaway query with 504; server stays usable") {
    val hdrs = Map("x-wren-variable-session_status" -> "F")
    val slow = post("/v3/connector/spark/query?timeout=1", bodyJson(
      "SELECT max(id % 7) AS s FROM range(1000000000000)"), hdrs)
    assert(slow.statusCode() == 504, s"${slow.statusCode()} ${slow.body()}")
    assert(slow.body().contains("cancelled"))
    assert(slow.body().contains("DATABASE_TIMEOUT"), slow.body())
    val ok = post("/v3/connector/spark/query?timeout=120&limit=1", bodyJson(
      "SELECT o_orderkey FROM w_orders ORDER BY o_orderkey"), hdrs)
    assert(ok.statusCode() == 200, ok.body())
  }

  private def get(path: String): HttpResponse[String] = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
    HttpResponse.BodyHandlers.ofString())

  test("legacy v2 connector query/dry-run route aliases answer like v3") {
    val hdrs = Map("x-wren-variable-session_status" -> "F")
    val r = post("/v2/connector/spark/query?limit=5", bodyJson(
      "SELECT o_orderkey, o_orderstatus FROM w_orders ORDER BY o_orderkey"), hdrs)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"columns\"") && r.body().contains("\"data\""))

    val dry = post("/v2/connector/spark/query?dryRun=true", bodyJson(
      "SELECT o_orderkey FROM w_orders"), hdrs)
    assert(dry.statusCode() == 204 && dry.body().isEmpty)
  }

  test("legacy v2 validate and metadata route aliases") {
    val v = post("/v2/connector/spark/validate/column_is_valid",
      s"""{"manifestStr":${quoted(manifestStr)},
         |"parameters":{"modelName":"w_orders","columnName":"o_orderkey"}}""".stripMargin,
      Map("x-wren-variable-session_status" -> "F"))
    assert(v.statusCode() == 204, v.body())

    val t = post("/v2/connector/spark/metadata/tables",
      s"""{"manifestStr":${quoted(relManifestStr)}}""")
    assert(t.statusCode() == 200 && t.body().contains("\"w_nation\""), t.body())
    val ver = post("/v2/connector/spark/metadata/version",
      s"""{"manifestStr":${quoted(relManifestStr)}}""")
    assert(ver.statusCode() == 200 && ver.body().contains("Spark "))
  }

  test("legacy v2 dry-plan: with and without a datasource segment") {
    val hdrs = Map("x-wren-variable-session_status" -> "F")
    val withDs = post("/v2/connector/spark/dry-plan", bodyJson(
      "SELECT o_orderkey FROM w_orders"), hdrs)
    assert(withDs.statusCode() == 200 && withDs.body().toLowerCase.contains("project"))
    val dsLess = post("/v2/connector/dry-plan", bodyJson(
      "SELECT o_orderkey FROM w_orders"), hdrs)
    assert(dsLess.statusCode() == 200 && dsLess.body().toLowerCase.contains("project"))
    assert(dsLess.body() == withDs.body(), "ds-less dry-plan must plan identically")
  }

  test("v2 analysis accepts GET-with-body and POST; other methods answer 405") {
    // the reference declares these GET with a JSON body (FastAPI model-as-body)
    val viaGet = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v2/analysis/sql"))
        .method("GET", HttpRequest.BodyPublishers.ofString(
          """{"sql":"SELECT 1 AS one"}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(viaGet.statusCode() == 200, viaGet.body())

    val del = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v2/analysis/sql"))
        .DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 405, s"${del.statusCode()} ${del.body()}")
  }

  test("health and config app routes; PATCH /config flips the diagnose flag") {
    val h = get("/health")
    assert(h.statusCode() == 200 && h.body() == """{"status":"ok"}""")
    assert(get("/config").body() == """{"diagnose":false}""")
    val patched = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/config"))
        .method("PATCH", HttpRequest.BodyPublishers.ofString("""{"diagnose":true}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(patched.statusCode() == 200 && patched.body() == """{"diagnose":true}""")
    assert(get("/config").body() == """{"diagnose":true}""")
    // restore for other suites (process-global, like the reference's config)
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/config"))
        .method("PATCH", HttpRequest.BodyPublishers.ofString("""{"diagnose":false}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("knowledge route serves the text-to-SQL blob with a per-datasource dialect note") {
    val r = get("/v3/connector/spark/knowledge")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"text_to_sql_rule\"")
      && r.body().contains("\"instructions\"")
      && r.body().contains("\"sql_correction_rule\""))
    assert(r.body().contains("calculated_field") && r.body().contains("dialect_spark"))

    val pg = get("/v2/connector/postgres/knowledge")
    assert(pg.statusCode() == 200 && pg.body().contains("dialect_postgres"))
    assert(pg.body().contains("JDBC"))
  }

  test("a malformed JSON body answers 422 on every body-reading route") {
    def patchConfig(body: String) = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/config"))
        .method("PATCH", HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    val answers = Seq(
      "PATCH /config" -> patchConfig("{oops"),
      "/v2/analysis/sql" -> post("/v2/analysis/sql", "{oops"),
      "/v2/connector/dry-plan" -> post("/v2/connector/dry-plan", "{oops"),
      "/v3/connector/spark/query" -> post("/v3/connector/spark/query", "{oops"))
    answers.foreach { case (route, r) =>
      assert(r.statusCode() == 422 && r.body().contains("malformed JSON body"),
        s"$route: ${r.statusCode()} ${r.body()}")
    }
  }

  test("the 65th manifest evicts the least recently used deployment, not all of them") {
    val lruServer = new GraftHttpServer(spark, TestSpark.sfDir, port = 0)
    val lruPort = lruServer.start()
    // the server's manifest -> deployment map (the field servebench reads too)
    val sessions = classOf[GraftHttpServer].getDeclaredFields
      .find(_.getName.endsWith("sessions")).map { f =>
        f.setAccessible(true)
        f.get(lruServer).asInstanceOf[java.util.Map[String, AnyRef]]
      }.get
    def manifest(i: Int): String =
      s"""{"catalog":"lru$i","schema":"demo","models":[{"name":"w_region",
         |"tableReference":"region","primaryKey":"r_regionkey",
         |"columns":[{"name":"r_regionkey","type":"int"}]}]}""".stripMargin
    def deploy(i: Int): Unit = {
      val r = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$lruPort/v3/connector/spark/metadata/schemas"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"manifestStr":${quoted(manifest(i))}}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body().contains(s"lru$i"), r.body())
    }
    try {
      deploy(0)
      val first = sessions.get(manifest(0))
      (1 until 64).foreach(deploy)
      deploy(0) // manifest 0 is now the most recently used; manifest 1 the least
      deploy(64)
      assert(sessions.size == 64)
      assert(sessions.get(manifest(0)) eq first, "manifest 0 was re-deployed")
      assert(!sessions.containsKey(manifest(1)),
        "the least recently used manifest was not evicted")
    } finally lruServer.stop()
  }

  private def quoted(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))
}
