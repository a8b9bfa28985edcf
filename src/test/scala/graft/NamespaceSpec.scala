package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.mdl._
import graft.planner.PathResolver

/** A deployment keeps its names in its own session: deploying touches neither the
  * caller's temp views nor its temp functions (beyond Graft's function surface,
  * registered once per caller session).
  */
class NamespaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** Models (one over a schema-qualified raw source), a refSql model, a view, a
    * metric and a macro — every kind of name a deploy registers.
    */
  private val manifest = Manifest(
    catalog = "graft", schema = "ns",
    models = List(
      Model("ns_orders", tableReference = Some(TableReference(schema = Some("tpch"), table = "orders")),
        primaryKey = Some("o_orderkey"),
        columns = List(Column("o_orderkey", "bigint"), Column("o_orderstatus", "varchar"))),
      Model("ns_big", refSql = Some("SELECT o_orderkey FROM orders WHERE o_totalprice > 100000"),
        columns = List(Column("o_orderkey", "bigint")))),
    views = List(View("ns_view", "SELECT o_orderkey FROM ns_orders WHERE o_orderkey < 100")),
    metrics = List(Metric("ns_metric", baseObject = "ns_orders",
      dimension = List(Column("o_orderstatus", "varchar")),
      measure = List(Column("n", "bigint", expression = Some("count(*)"))))),
    macros = List(Macro("ns_double", "(x: bigint) => x * 2")))

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
  private def tempFunctions: Set[String] =
    spark.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet

  test("deploy leaves the caller's temp views and functions alone") {
    GraftFunctions.register(spark)
    // a caller view that shares a model's name
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView("ns_orders")
    val viewsBefore = tempViews
    val functionsBefore = tempFunctions
    val sess = GraftEngine.deploy(spark, manifest, new PathResolver(dir))
    // the deployment sees every name it registered
    val orders = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(sess.query("SELECT count(*) FROM ns_orders").head.getLong(0) == orders)
    assert(sess.query("SELECT count(*) FROM tpch.orders").head.getLong(0) == orders)
    assert(sess.query("SELECT count(*) FROM ns_big").head.getLong(0) > 0)
    assert(sess.query("SELECT max(ns_double(o_orderkey)) FROM ns_view").head.getLong(0) > 0)
    assert(sess.query("SELECT sum(n) FROM ns_metric").head.getLong(0) == orders)
    // the caller's namespace did not change
    assert(tempViews -- viewsBefore == Set.empty)
    assert(tempFunctions -- functionsBefore == Set.empty)
    assert(spark.table("ns_orders").count() == 3)
  }

  test("a second deploy on one session replaces no function") {
    GraftEngine.deploy(spark, manifest, new PathResolver(dir))
    assert(replacedFunctions(GraftEngine.deploy(spark, manifest, new PathResolver(dir))) == 0)
  }

  /** Runs `f` and counts the "replaced a previously registered function" WARNs the
    * function registry logs meanwhile.
    */
  private def replacedFunctions(f: => Any): Int = {
    val name = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    val replaced = new AtomicInteger
    val appender = new AbstractAppender("ns-replaced", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered"))
          replaced.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val loggerConfig = new LoggerConfig(name, Level.WARN, false)
    loggerConfig.addAppender(appender, null, null)
    config.addLogger(name, loggerConfig)
    ctx.updateLoggers()
    try { f; replaced.get }
    finally {
      config.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
