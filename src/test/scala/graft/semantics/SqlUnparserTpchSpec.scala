package graft.semantics

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, GraftSession, TestSpark}
import graft.planner.PathResolver
import graft.queries.TpcH

/** The unparser must be able to express EVERY TPC-H optimized plan: for each of
  * the 22 queries, `transformSql(sql, "spark")` is executed on a bare session
  * (no deploy, no temp views) and must return exactly the rows and column names
  * of the engine running the original semantic-layer SQL. This is the breadth
  * guarantee behind the `/dry-plan?dialect=` surface — the reference unparses
  * its whole benchmark corpus the same way (`Mode::Unparse`,
  * wren-core/core/src/mdl/dialect/wren_dialect.rs:41-110).
  */
class SqlUnparserTpchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val session =
    GraftEngine.deployOnDir(spark, TpcH.manifest, TestSpark.sfDir)

  private def holdsInMemory(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case m: InMemoryRelation => m }.nonEmpty

  /** The "spark" dry-plan of `sql` on `sess` scans sources, never an in-memory
    * relation, and replays on a bare session to the engine's own rows.
    */
  private def assertSourceText(sess: GraftSession, sql: String): Unit = {
    val text = sess.transformSql(sql, "spark")
    assert(text.contains("parquet.") && !text.contains("InMemory"),
      s"expected source scans only, got:\n$text")
    assert(spark.sql(text).collect().map(_.toString).sorted.toSeq ==
      sess.query(sql).collect().map(_.toString).sorted.toSeq, s"\n$text")
  }

  private def unique(name: String): String =
    s"${TpcH.oracles(name)} -- ${System.nanoTime()}"

  test("unparse is cache-independent: a cached overlapping scan must not leak InMemoryRelation") {
    val cached = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet").persist()
    cached.count() // materialize so CacheManager substitutes matching subplans
    try assertSourceText(session, TpcH.oracles("tpch_q6"))
    finally { cached.unpersist(); () }
  }

  test("dry-plan hit after an overlapping persist still scans sources") {
    val sql = unique("tpch_q6")
    assertSourceText(session, sql) // the miss, planned with nothing cached
    val cached = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet").persist()
    cached.count()
    try assertSourceText(session, sql)
    finally { cached.unpersist(); () }
  }

  test("dry-plan hit after the scan it was planned under is unpersisted scans sources") {
    val sql = unique("tpch_q6")
    val cached = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet").persist()
    try {
      cached.count()
      assert(holdsInMemory(session.query(sql).queryExecution.optimizedPlan),
        "the miss should have planned over the cached scan")
    } finally { cached.unpersist(); () }
    assertSourceText(session, sql)
  }

  test("dry-plan of a cached:true model scans sources") {
    val m = TpcH.manifest.copy(models = TpcH.manifest.models.map(mm =>
      if (mm.name == "nation") mm.copy(cached = true) else mm))
    val sess = GraftEngine.deploy(spark, m, new PathResolver(TestSpark.sfDir))
    try {
      val sql = "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey = 1"
      assert(holdsInMemory(sess.query(sql).queryExecution.optimizedPlan),
        "a cached model should plan as an in-memory scan")
      assertSourceText(sess, sql)
      assertSourceText(sess, sql) // and again on the plan-cache hit
    } finally { sess.modelDF("nation").unpersist(); () }
  }

  private def ruleRuns(rules: String*): Map[String, Long] = graft.RuleMeter.runs(rules: _*)

  test("a dialect dry-plan analyzes and optimizes once on a miss, neither on a hit") {
    val finish = "org.apache.spark.sql.catalyst.optimizer.Optimizer$FinishAnalysis"
    val lookup = "org.apache.spark.sql.catalyst.analysis.Analyzer$LookupFunctions"
    val sql = unique("tpch_q3")
    val deployed = session // deploy first: it plans every model
    RuleExecutor.resetMetrics()
    val missText = deployed.transformSql(sql, "duckdb")
    val miss = ruleRuns(finish, lookup)
    RuleExecutor.resetMetrics()
    val hitText = deployed.transformSql(sql, "duckdb")
    val hit = ruleRuns(finish, lookup)
    assert(hitText == missText)
    assert(miss(finish) == 1, s"optimizations on a miss: $miss")
    assert(miss(lookup) == 1, s"analyses on a miss: $miss")
    assert(hit(finish) == 0, s"optimizations on a hit: $hit")
    assert(hit(lookup) == 0, s"analyses on a hit: $hit")
  }

  test("duckdb dialect: every TPC-H query unparses (cross-engine breadth gate)") {
    // The driver's correctness gate EXECUTES these texts in DuckDB and
    // hash-compares against Spark running the source (tpch_qN_unparse entries);
    // this test pins the coverage so a dialect regression fails the build
    // instead of silently downgrading 22 entries to rows-only checks.
    // The oracles plan on the caller's session and leave its confs alone.
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val generated =
      try {
        val g = TpcH.unparseOracles
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
        g
      } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    val missing = TpcH.oracles.keySet.map(_ + "_unparse") -- generated.keySet
    assert(missing.isEmpty, s"duckdb unparse lost coverage for: $missing")
    generated.foreach { case (n, text) =>
      assert(text.startsWith("SELECT"), s"$n: unexpected text shape:\n$text")
    }
  }

  test("duckdb/postgres/trino/redshift TPC-H texts match their pinned resource goldens") {
    // full-breadth snapshot pins (regenerate: `sbt "runMain graft.tools
    // .GoldenGen"`): a rendering change at TPC-H scale shows up as a reviewed
    // golden diff, not a silent driver-gate surprise. These four dialects'
    // texts are additionally EXECUTED in DuckDB by tools/tpch_cross_check.py,
    // which requires each to compute the duckdb text's exact typed results
    // (and the duckdb text is driver-hash-matched against Spark) —
    // TPCH_CROSS.json
    for ((name, sql) <- TpcH.oracles.toSeq.sortBy(_._1);
         d <- Seq("duckdb", "postgres", "trino", "redshift")) {
      Goldens.assertGolden(d, name, session.transformSql(sql, d))
    }
  }

  for ((name, sql) <- TpcH.oracles.toSeq.sortBy(_._1)) {
    test(s"spark round-trip: $name") {
      val engine = session.query(sql)
      val expected = engine.collect().map(_.toString).sorted.toSeq
      val text = session.transformSql(sql, "spark")
      val replayed = spark.sql(text)
      assert(replayed.columns.toSeq == engine.columns.toSeq, s"\n$text")
      assert(replayed.collect().map(_.toString).sorted.toSeq == expected, s"\n$text")
    }
  }
}
