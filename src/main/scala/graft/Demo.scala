package graft

/** Example usage / smoke driver: deploys the semantic manifest, runs the flagship
  * query, and exercises the access-control error paths. `runMain graft.Demo [sfDir]`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkProfile.session("graft-demo")

    println("== flagship entry(spark) ==")
    SparkEntry.entry(spark).show(10, truncate = false)

    println("== transformSql (dry-plan analogue) ==")
    val sess = GraftEngine.deployOnDir(spark, queries.Semantic.manifest, dir)
    println(sess.transformSql(
      "SELECT cust_segment, count(*) n FROM m_orders GROUP BY cust_segment").take(800))

    println("== probe: RLAC missing required session property ==")
    try {
      GraftEngine.deployOnDir(spark, queries.Semantic.aclManifest, dir, Map.empty)
      println("UNEXPECTED: deploy succeeded without required property")
    } catch {
      case e: graft.planner.GraftException => println(s"OK, rejected: ${e.getMessage}")
    }

    println("== probe: CLAC-denied column disappears from schema ==")
    val denied = GraftEngine.deployOnDir(spark, queries.Semantic.aclManifest, dir,
      Map("session_segment" -> "BUILDING", "session_level" -> "0"))
    try {
      denied.query("SELECT c_name FROM sec_customer").collect()
      println("UNEXPECTED: c_name accessible with session_level=0")
    } catch {
      case e: Exception =>
        println(s"OK, denied: ${e.getMessage.linesIterator.next()}")
    }
    println("== probe: same column visible with session_level=1 ==")
    val allowed = GraftEngine.deployOnDir(spark, queries.Semantic.aclManifest, dir,
      Map("session_segment" -> "BUILDING", "session_level" -> "1"))
    println(s"OK, rows=${allowed.query("SELECT c_name FROM sec_customer").count()}")

    println("== probe: model substitution (physical name -> model) ==")
    val sub = sess.querySubstituted(
      "SELECT o_orderkey, cust_segment FROM orders WHERE o_orderkey <= 3 ORDER BY 1")
    println(s"OK, rows=${sub.count()} cols=${sub.columns.mkString(",")}")

    println("== probe: relationship validation ==")
    sess.validateRelationships().foreach(r =>
      println(s"  ${if (r.valid) "VALID" else "INVALID"} ${r.rule} ${r.message}"))

    println("== probe: cube materialization ==")
    val cube = sess.materializeCube("orders_cube")
    println(s"OK, lattice rows=${cube.count()}")

    println("== probe: JSON response shape ==")
    println(sess.queryJson("SELECT o_orderkey, o_orderdate FROM m_orders ORDER BY 1", 2))

    spark.stop()
  }
}
