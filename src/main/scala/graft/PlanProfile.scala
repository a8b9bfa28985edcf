package graft

/** Scratch profiler for warm planning latency (not part of the driver contract). */
object PlanProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkProfile.session("graft-planprofile")
    val session = GraftEngine.deployOnDir(spark, queries.TpcH.manifest, sfDir)
    val sqls = queries.TpcH.oracles.values.toSeq
    // the deployment's views live in its own session; the raw-Spark timings below
    // plan the same SQL over the same model plans registered on this session
    queries.TpcH.manifest.models.foreach(m =>
      session.modelDF(m.name).createOrReplaceTempView(m.name))

    def time(what: String)(f: => Unit): Unit = {
      f // warm
      f
      val t0 = System.nanoTime()
      var i = 0
      while (i < 3) { f; i += 1 }
      println(f"$what%-28s ${(System.nanoTime() - t0) / 1e6 / 3 / sqls.size}%8.2f ms/query")
    }

    val parser = spark.sessionState.sqlParser
    time("parse")(sqls.foreach(parser.parsePlan))
    time("parse+analyze")(sqls.foreach(sql => spark.sql(sql)))
    time("parse+analyze+optimize")(sqls.foreach(sql => spark.sql(sql).queryExecution.optimizedPlan))
    session.resetPlanCacheStats()
    time("full session.query")(sqls.foreach(sql => session.query(sql).queryExecution.optimizedPlan))
    val (h, m) = session.planCacheStats
    println(f"plan-cache hit rate over the warm TPC-H passes: $h hits / $m misses " +
      f"(${100.0 * h / math.max(1, h + m)}%.1f%%)")

    // Round-14 planning-drift adjudication: the r13-added deploy/query paths.
    // (a) metric/cumulative/grain queries — warm planning through the same
    // session.query plan cache; (b) the streaming resolver's deploy; (c) the
    // metrics-fixpoint DEPLOY cost itself (cache-busted via a unique property
    // per iteration — deploy work, not per-query work).
    val sem = GraftEngine.deployOnDir(spark, queries.Semantic.manifest, sfDir)
    val metricSqls = Seq(
      """SELECT o_orderstatus AS st, n_orders, revenue,
        |  (SELECT total FROM total_revenue) AS grand_total
        |FROM status_revenue ORDER BY st""".stripMargin,
      """SELECT cast(odate as timestamp_ntz) AS mon, o_orderstatus AS st, n_orders, revenue
        |FROM status_revenue_odate_month ORDER BY mon, st""".stripMargin,
      """SELECT cast(mon as timestamp_ntz) AS mon, cast(cum_revenue as double) AS cum_rev
        |FROM cum_monthly_revenue ORDER BY mon""".stripMargin)
    def timeN(what: String, n: Int)(f: => Unit): Unit = {
      f; f
      val t0 = System.nanoTime()
      var i = 0
      while (i < 3) { f; i += 1 }
      println(f"$what%-28s ${(System.nanoTime() - t0) / 1e6 / 3 / n}%8.2f ms/query")
    }
    try timeN("metric queries (warm)", metricSqls.size)(
      metricSqls.foreach(sql => sem.query(sql).queryExecution.optimizedPlan))
    catch { case e: Exception => println(s"metric path skipped: ${e.getMessage}") }
    var uniq = 0
    timeN("semantic DEPLOY (fixpoint)", 1) {
      uniq += 1
      GraftEngine.deploy(spark, queries.Semantic.manifest,
        new graft.planner.PathResolver(sfDir), Map("profile_tag" -> uniq.toString))
      ()
    }
    timeN("streaming-resolver DEPLOY", 1) {
      uniq += 1
      GraftEngine.deploy(spark, queries.Semantic.streamManifest,
        new graft.planner.StreamingPathResolver(sfDir, Set("orders")),
        Map("min_total" -> "300000", "profile_tag" -> uniq.toString))
      ()
    }
    spark.stop()
  }
}
