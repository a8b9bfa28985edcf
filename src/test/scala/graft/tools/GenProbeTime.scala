package graft.tools

/** Scratch: time GenerateMdl's phases (round-14 m40 latency adjudication). */
object GenProbeTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkProfile.session("graft-genprobetime")
    spark.sql("select count(*) from range(100)").collect()
    def t[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[gen-time] $what%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
    }
    val draft = t("fromParquetDir (1st)") {
      graft.mdl.GenerateMdl.fromParquetDir(spark, dir) }
    t("fromParquetDir (2nd)") { graft.mdl.GenerateMdl.fromParquetDir(spark, dir) }
    val sess = t("deployOnDir (1st)") {
      graft.GraftEngine.deployOnDir(spark, draft.manifest, dir) }
    t("query+count") { sess.query(
      "SELECT c_mktsegment, count(*) n FROM graft.draft.orders " +
        "JOIN graft.draft.customer ON o_custkey = c_custkey GROUP BY 1").count() }
    spark.stop()
  }
}
