package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, TestSpark}
import graft.mdl._
import graft.planner.GraftException
import graft.queries.Semantic
import graft.semantics.Substitution

/** A13 substitution, A17 cache, A18 formatter, A19 validators, A20 listing. */
class ApiSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private lazy val session = GraftEngine.deployOnDir(spark, Semantic.manifest, dir)

  test("substitution rewrites physical names to models") {
    val df = session.querySubstituted(
      "SELECT o_orderkey, order_cust FROM orders WHERE o_orderkey <= 10")
    // order_cust only exists on the model, so resolution proves the rewrite
    assert(df.columns.toSeq == Seq("o_orderkey", "order_cust"))
    assert(df.count() > 0)
  }

  test("substitution leaves CTE names and unknown tables alone") {
    val df = session.querySubstituted(
      """WITH orders AS (SELECT 1 AS x) SELECT x FROM orders""")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("substitution throws on ambiguity") {
    val m = Manifest(catalog = "g", schema = "s",
      models = List(
        Model("a1", tableReference = Some(TableReference(table = "orders")),
          columns = List(Column("o_orderkey", "bigint"))),
        Model("a2", tableReference = Some(TableReference(table = "orders")),
          columns = List(Column("o_orderkey", "bigint")))))
    val e = intercept[GraftException] {
      Substitution.substitute(spark, m, "SELECT * FROM orders")
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("relationship validation: cardinality probes") {
    session // deployed
    val results = session.validateRelationships()
    assert(results.nonEmpty && results.forall(_.valid),
      results.filterNot(_.valid).map(_.message).mkString("; "))
    // a deliberately wrong cardinality fails: orders -> lineitem declared MANY_TO_ONE
    val bad = Relationship("bad", List("m_orders", "m_lineitem"), JoinType.ManyToOne,
      "\"m_orders\".\"o_orderkey\" = \"m_lineitem\".\"l_orderkey\"")
    val r = session.validateRelationship(bad)
    assert(!r.valid && r.message.contains("not unique"))
  }

  test("column validation") {
    assert(session.validateColumn("m_orders", "o_orderkey").valid)
    assert(!session.validateColumn("m_orders", "nope").valid)
  }

  test("rlac condition syntax validation") {
    assert(session.validateRlacSyntax("\"c_mktsegment\" = @session_segment").valid)
    assert(!session.validateRlacSyntax("c_mktsegment === @@@").valid)
  }

  test("query cache round-trips and hits on second read") {
    val root = Files.createTempDirectory("graft_cache_").toString
    val cache = new QueryCache(root)
    val sql = "SELECT count(*) AS n FROM m_orders"
    val first = session.queryCached(sql, cache).collect()
    val second = session.queryCached(sql, cache).collect()
    assert(first.head.getLong(0) == second.head.getLong(0))
    // the cached parquet exists on disk
    assert(Files.list(java.nio.file.Paths.get(root)).count() == 1)
    cache.invalidateAll()
  }

  test("withTimeout cancels a runaway query and the session stays usable") {
    val e = intercept[graft.QueryTimeoutException] {
      session.withTimeout(1200) {
        // max(id % 7) never overflows (ANSI mode), so the scan genuinely runs long
        spark.range(Long.MaxValue).selectExpr("max(id % 7) AS s").collect()
      }
    }
    assert(e.getMessage.contains("cancelled"))
    // cancellation is job-group-scoped: the same session answers immediately after
    val n = session.query("SELECT count(*) AS n FROM m_orders").collect().head.getLong(0)
    assert(n > 0)
    // and a query within budget completes through the same wrapper
    val rows = session.collectWithTimeout("SELECT count(*) AS n FROM m_orders", 120000)
    assert(rows.head.getLong(0) == n)
  }

  test("optimized-plan cache: time-dependent queries still get fresh values warm") {
    // the optimizer freezes current_timestamp per run — such plans must cache
    // analyzed-only and re-optimize per call (a cached optimized plan would pin t)
    val sql = "SELECT current_timestamp() AS t FROM m_orders LIMIT 1"
    val t1 = session.query(sql).collect().head.getTimestamp(0)
    Thread.sleep(10)
    val t2 = session.query(sql).collect().head.getTimestamp(0) // warm (plan-cache hit)
    assert(t2.after(t1), s"warm call must re-freeze current_timestamp: $t1 vs $t2")
    // while a time-stable query serves the SAME optimized plan object warm
    val stable = "SELECT count(*) AS n FROM m_orders"
    val o1 = session.query(stable).queryExecution.optimizedPlan
    val o2 = session.query(stable).queryExecution.optimizedPlan
    assert(o1 eq o2, "time-stable warm hit must reuse the cached optimized plan")
  }

  test("json response formats types and carries the shape") {
    val json = session.queryJson(
      "SELECT o_orderkey, o_orderdate, cast(o_totalprice as decimal(18,2)) AS p " +
        "FROM m_orders ORDER BY o_orderkey LIMIT 2")
    assert(json.contains(""""columns":["o_orderkey","o_orderdate","p"]"""))
    assert(json.contains(""""dtypes":"""))
    assert(json.contains(""""data":["""))
  }

  test("CLAC denial surfaces as access-denied, not column-not-found") {
    val denied = GraftEngine.deployOnDir(spark, Semantic.aclManifest, dir,
      Map("Session_segment" -> "BUILDING", "Session_level" -> "0"))
    val e = intercept[GraftException] {
      denied.query("SELECT c_name FROM sec_customer")
    }
    assert(e.getMessage.contains("Access denied"), e.getMessage)
    // a genuinely unknown column still reports the resolution failure
    intercept[org.apache.spark.sql.AnalysisException] {
      denied.query("SELECT no_such FROM sec_customer")
    }
    // a typo matching a rule-guarded column name is NOT access-denied when the
    // session passes the rule (level=1) — it is a plain resolution error
    val allowed = GraftEngine.deployOnDir(spark, Semantic.aclManifest, dir,
      Map("Session_segment" -> "BUILDING", "Session_level" -> "1"))
    intercept[org.apache.spark.sql.AnalysisException] {
      allowed.query("SELECT c_name FROM (SELECT c_custkey FROM sec_customer)")
    }
  }

  test("json response renders arrays/structs/maps as JSON, escapes column names") {
    val json = session.queryJson(
      """SELECT array(1, 2) AS arr, named_struct('a', 1, 'b', 'x') AS st,
        |  map('k', 42) AS mp, 'plain' AS `q"uote`
        |FROM m_orders LIMIT 1""".stripMargin)
    assert(json.contains(""""arr":"list<item: int32>""""), json) // arrow names, util.py:124
    assert(json.contains("[1,2]"), json)
    assert(json.contains("""{"a":1,"b":"x"}"""), json)
    assert(json.contains("""{"k":42}"""), json)
    assert(json.contains(""""q\"uote""""), json)
  }

  test("CSV function registry parses the reference's remote-function shape") {
    val f = java.nio.file.Files.createTempFile("fns_", ".csv")
    java.nio.file.Files.writeString(f,
      """function_type,name,return_type,param_names,param_types,description
        |scalar,my_fn,int,x,int,adds one
        |aggregate,my_agg,double,"vals",double,custom agg
        |""".stripMargin)
    val specs = graft.functions.GraftFunctions.loadCsvRegistry(f.toString)
    assert(specs.map(_.name) == Seq("my_fn", "my_agg"))
    assert(specs.head.kind == "scalar" && specs(1).kind == "aggregate")
    assert(specs.head.returns == "int")
  }

  test("functions + metadata listings") {
    assert(session.functions.exists(_.name == "date_bin"))
    val md = session.metadata.toMap
    assert(md("m_orders").exists { case (n, t) => n == "o_orderdate" && t == "date" })
    // relationship columns and hidden columns are not exposed
    assert(!md("m_customer").exists(_._1 == "orders"))
  }
}
