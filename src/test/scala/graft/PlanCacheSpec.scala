package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TpcH

/** A plan-cache entry depends on its SQL alone: what the shared CacheManager
  * holds is consulted each time a cached plan is used, never frozen into it.
  * Every test plans SQL no other suite plans, so its first `query` is a miss.
  */
class PlanCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val session =
    GraftEngine.deployOnDir(spark, TpcH.manifest, TestSpark.sfDir)

  private def unique(name: String): String =
    s"${TpcH.oracles(name)} -- plan cache ${System.nanoTime()}"

  private def lineitem: DataFrame =
    spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")

  private def holdsInMemory(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case m: InMemoryRelation => m }.nonEmpty

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a hit after an unpersist scans sources and leaves no persisted RDD behind") {
    val sql = unique("tpch_q6")
    val cached = lineitem.persist()
    try {
      cached.count()
      val missRows = rows(session.query(sql)) // the miss, planned over the cached scan
      cached.unpersist(blocking = true)
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val hit = session.query(sql)
      assert(rows(hit) == missRows)
      assert(spark.sparkContext.getPersistentRDDs.size == persisted,
        "the hit re-persisted data that no unpersist can free")
      assert(!holdsInMemory(hit.queryExecution.optimizedPlan))
    } finally { cached.unpersist(blocking = true); () }
  }

  test("a hit after a persist scans the persisted data") {
    val sql = unique("tpch_q6")
    val missRows = rows(session.query(sql)) // the miss, with nothing persisted
    val cached = lineitem.persist()
    try {
      cached.count()
      val hit = session.query(sql)
      assert(holdsInMemory(hit.queryExecution.optimizedPlan),
        "the hit should use the cache persisted after the miss")
      assert(rows(hit) == missRows)
    } finally { cached.unpersist(blocking = true); () }
  }

  test("a query hit with nothing persisted neither analyzes nor optimizes") {
    val finish = "org.apache.spark.sql.catalyst.optimizer.Optimizer$FinishAnalysis"
    val lookup = "org.apache.spark.sql.catalyst.analysis.Analyzer$LookupFunctions"
    val sql = unique("tpch_q3")
    val missRows = rows(session.query(sql))
    RuleExecutor.resetMetrics()
    val hit = session.query(sql)
    hit.queryExecution.optimizedPlan
    val runs = RuleMeter.runs(finish, lookup)
    val nothingCached = spark.sharedState.cacheManager.isEmpty
    assert(runs(finish) == 0, s"optimizations on a hit: $runs (CacheManager empty: $nothingCached)")
    assert(runs(lookup) == 0, s"analyses on a hit: $runs (CacheManager empty: $nothingCached)")
    assert(rows(hit) == missRows)
  }
}
