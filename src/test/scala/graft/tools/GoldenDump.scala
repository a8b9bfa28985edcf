package graft.tools

import graft.{GraftEngine, SparkProfile}
import graft.queries.Semantic

/** Print the m21-m25 corpus rendered in a target dialect, for pinning as
  * snapshot goldens when adding a dialect (the reference's snapshot-test
  * posture, `wren-core/core/src/mdl/mod.rs:648+`). Emitted table names are
  * path-independent basenames, so the texts are stable across sf dirs.
  * Run: `sbt "Test/runMain graft.tools.GoldenDump <dialect> [sfDir]"`.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val dialect = if (args.length > 0) args(0) else "trino"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkProfile.session("graft-goldendump")
    val session = GraftEngine.deployOnDir(spark, Semantic.manifest, sfDir)
    for ((n, sql) <- Seq("m21" -> Semantic.m21Sql, "m22" -> Semantic.m22Sql,
        "m23" -> Semantic.m23Sql, "m24" -> Semantic.m24Sql,
        "m25" -> Semantic.m25Sql)) {
      println(s"=== $n ===")
      try println(session.transformSql(sql, dialect))
      catch { case e: Exception => println(s"[unsupported] ${e.getMessage}") }
    }
    spark.stop()
  }
}
