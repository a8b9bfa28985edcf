package graft.tools

import graft.{GraftEngine, SparkProfile}
import graft.queries.TpcH
import graft.semantics.Transliterate

/** Dump the 22 TPC-H queries rendered in the golden-only trio dialects and
  * passed through [[Transliterate]], for pre-flighting which (query, dialect)
  * combos execute in DuckDB — the pinned set becomes `tpch_qN_translit_<d>`
  * driver entries. Run:
  * `sbt "Test/runMain graft.tools.TpchTranslitDump <outDir> [sfDir]"`.
  */
object TpchTranslitDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/tpch_translit"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkProfile.session("graft-tpchtranslit")
    new java.io.File(outDir).mkdirs()
    val session = GraftEngine.deployOnDir(spark, TpcH.manifest, sfDir)
    val sources = TpcH.defs.map { case (n, (_, sql)) => (n, sql) }
    for ((n, sql) <- sources;
         d <- Seq("mysql", "bigquery", "oracle",
           "clickhouse", "snowflake", "mssql")) {
      try {
        val text = session.transformSql(sql, d)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.$d.sql"),
          Transliterate(d, text))
      } catch { case e: Exception =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.$d.refused"),
          String.valueOf(e.getMessage))
      }
    }
    // the duckdb rendering as the known-good comparator for the pre-flight
    for ((n, sql) <- sources) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n.duckdb.sql"),
        session.transformSql(sql, "duckdb"))
      catch { case _: Exception => () }
    }
    println(s"[tpch-translit-dump] -> $outDir")
    spark.stop()
  }
}
