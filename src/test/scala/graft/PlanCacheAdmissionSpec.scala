package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TpcH

/** A plan is kept past its first use only when its SQL comes back: one-off SQL
  * passes through an 8-plan probation, and SQL that comes back after probation
  * dropped it is kept from its second planning on. Each dialect dry-plan miss
  * optimizes once (`SqlUnparserTpchSpec`), so the rule meter's
  * `FinishAnalysis` runs count plannings. Every test tags its SQL with a fresh
  * comment, so no other suite has planned it.
  */
class PlanCacheAdmissionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val session =
    GraftEngine.deployOnDir(spark, TpcH.manifest, TestSpark.sfDir)

  private val finish = "org.apache.spark.sql.catalyst.optimizer.Optimizer$FinishAnalysis"

  private def tagged(sqls: Seq[String]): Seq[String] = {
    val tag = System.nanoTime()
    sqls.map(sql => s"$sql -- admission $tag")
  }

  /** Optimizer runs while every SQL is dry-planned once, in order. */
  private def optimizations(sqls: Seq[String]): Long = {
    val s = session // deployed before the meter runs
    RuleExecutor.resetMetrics()
    sqls.foreach(s.transformSql(_, "duckdb"))
    RuleMeter.runs(finish)(finish)
  }

  test("one-off SQL is not kept: 40 unique dry-plans, then all 40 again, plan again") {
    val sqls = tagged((1 to 40).map(i =>
      s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $i"))
    assert(optimizations(sqls) == 40)
    val again = optimizations(sqls)
    assert(again >= 32, s"only $again of 40 plans were optimized again")
  }

  test("a TPC-H cycle longer than probation optimizes nothing on its third pass") {
    val cycle = tagged(TpcH.oracles.toSeq.sortBy(_._1).map(_._2))
    assert(cycle.size == 22)
    // a query's scalar subqueries are optimized as plans of their own
    val first = optimizations(cycle)
    assert(first >= 22)
    // the first 14 come back as ghosts and plan again; the last 8 hit in probation
    val second = optimizations(cycle)
    assert(second >= 14 && second < first, s"passes optimized $first, then $second times")
    assert(optimizations(cycle) == 0)
  }

  test("an immediate repeat is a hit and planCacheStats counts it") {
    val Seq(sql) = tagged(Seq(TpcH.oracles("tpch_q5")))
    val (h0, m0) = session.planCacheStats
    val missText = session.transformSql(sql, "duckdb")
    assert(session.planCacheStats == ((h0, m0 + 1)))
    assert(optimizations(Seq(sql)) == 0)
    assert(session.planCacheStats == ((h0 + 1, m0 + 1)))
    assert(session.transformSql(sql, "duckdb") == missText)
  }

  test("two threads sending the same new SQL both get its text") {
    val expected = session.transformSql(TpcH.oracles("tpch_q10"), "duckdb")
    val Seq(sql) = tagged(Seq(TpcH.oracles("tpch_q10")))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val start = new CountDownLatch(1)
      val texts = (1 to 2).map(_ => pool.submit(new Callable[String] {
        override def call(): String = { start.await(); session.transformSql(sql, "duckdb") }
      }))
      start.countDown()
      texts.foreach(t => assert(t.get(120, TimeUnit.SECONDS) == expected))
      assert(session.transformSql(sql, "duckdb") == expected)
    } finally pool.shutdown()
  }
}
