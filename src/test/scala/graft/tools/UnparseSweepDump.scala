package graft.tools

import graft.semantics.{SqlUnparser, SqlUnparserPropertyGrammar}

/** Dump the 40-seed property grammar as (spark result, duckdb / postgres /
  * trino / redshift text) tuples for `tools/unparse_sweep.py`, which executes
  * ALL dialect texts in DuckDB and value-compares them against Spark
  * — upgrading the dialect property sweep from "generates" to
  * "executes-and-matches" over the combinatorial space between the pinned
  * goldens. Run: `sbt "Test/runMain graft.tools.UnparseSweepDump <sfDir> <outDir>"`.
  */
object UnparseSweepDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/unparse_sweep"
    val spark = graft.SparkProfile.session("graft-unparsesweep")
    new java.io.File(outDir).mkdirs()
    Seq("orders", "customer", "nation").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val grammar = new SqlUnparserPropertyGrammar
    for (seed <- 0 until SqlUnparserPropertyGrammar.Seeds) {
      val sql = grammar.genQuery(seed)
      val df = spark.sql(sql)
      val optimized = spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/seed_$seed")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/seed_$seed.source.sql"), sql)
      for ((dname, d) <- Seq("duckdb" -> SqlUnparser.DuckDbDialect,
          "postgres" -> SqlUnparser.PostgresDialect,
          "trino" -> SqlUnparser.TrinoDialect,
          "redshift" -> SqlUnparser.RedshiftDialect)) {
        val text = SqlUnparser.unparse(optimized, df.columns.toIndexedSeq, d)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/seed_$seed.$dname.sql"), text)
      }
      // the golden-only trio, as fidelity-lossy TRANSLITERATED copies (the
      // residual proof lives in TransliterateSpec; here the copies widen the
      // structural execution from 10 corpus probes to the whole grammar —
      // dialect spellings the map doesn't cover stay in the text and are
      // classified explicitly by tools/unparse_sweep.py, never silently)
      for ((dname, d) <- Seq("mysql" -> SqlUnparser.MySqlDialect,
          "bigquery" -> SqlUnparser.BigQueryDialect,
          "oracle" -> SqlUnparser.OracleDialect,
          // round 14: the graduated-subset trio joins the transliterated sweep
          "clickhouse" -> SqlUnparser.ClickHouseDialect,
          "snowflake" -> SqlUnparser.SnowflakeDialect,
          "mssql" -> SqlUnparser.MsSqlDialect)) {
        val rendered =
          try Some(SqlUnparser.unparse(optimized, df.columns.toIndexedSeq, d))
          catch { case _: Exception => None } // loud refusals stay refusals
        rendered.foreach { text =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/seed_$seed.${dname}_translit.sql"),
            graft.semantics.Transliterate(dname, text))
        }
      }
    }
    println(s"[sweep-dump] ${graft.semantics.SqlUnparserPropertyGrammar.Seeds} seeds -> $outDir")
    spark.stop()
  }
}
