package graft.tools

import graft.{GraftEngine, SparkProfile}
import graft.queries.Semantic
import graft.semantics.SemanticUnparseGrammar

/** Dump the semantic-layer property grammar as (spark result, duckdb /
  * postgres / trino / redshift text) tuples for `tools/semantic_sweep.py`,
  * which executes every dialect text in DuckDB against the PHYSICAL parquet
  * tables and value-compares with Spark executing the semantic query through
  * the deployed MDL — executed cross-engine proof of the model-expansion ×
  * dialect product (the reference's Mode::Unparse output actually run, not
  * just snapshot-pinned). Run:
  * `sbt "Test/runMain graft.tools.SemanticSweepDump <sfDir> <outDir>"`.
  */
object SemanticSweepDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/semantic_sweep"
    val spark = SparkProfile.session("graft-semanticsweep")
    new java.io.File(outDir).mkdirs()

    // golden-only trio: fidelity-lossy transliterated copies alongside the
    // live-text four — widens structural execution of model expansion ×
    // governance to mysql/bigquery/oracle (residual proof: TransliterateSpec)
    def dumpTranslit(sess: graft.GraftSession, seed: Int, sql: String): Unit =
      for (d <- Seq("mysql", "bigquery", "oracle",
        // round 14: the graduated-subset trio joins the transliterated sweep
        "clickhouse", "snowflake", "mssql")) {
        try {
          val text = sess.transformSql(sql, d)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/seed_$seed.${d}_translit.sql"),
            graft.semantics.Transliterate(d, text))
        } catch {
          case e: UnsupportedOperationException =>
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/seed_$seed.${d}_translit.refused"),
              e.getMessage)
        }
      }

    val session = GraftEngine.deployOnDir(spark, Semantic.manifest, sfDir)
    for (seed <- 0 until SemanticUnparseGrammar.Seeds) {
      val sql = SemanticUnparseGrammar.genQuery(seed)
      val df = session.query(sql)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/seed_$seed")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/seed_$seed.source.sql"), sql)
      for (d <- Seq("duckdb", "postgres", "trino", "redshift")) {
        // a LOUD dialect refusal (documented grammar gap, e.g. Redshift has
        // no timestamp series for the cumulative-metric date spine) is
        // recorded as a marker file the sweep counts explicitly
        try {
          val text = session.transformSql(sql, d)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/seed_$seed.$d.sql"), text)
        } catch {
          case e: UnsupportedOperationException =>
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/seed_$seed.$d.refused"),
              e.getMessage)
        }
      }
      dumpTranslit(session, seed, sql)
    }
    // governed productions (RLAC/CLAC baked into the texts) occupy the next
    // contiguous indices so semantic_sweep.py executes them unchanged
    val acl = GraftEngine.deployOnDir(spark, Semantic.aclManifest, sfDir,
      Map("Session_segment" -> "BUILDING", "Session_level" -> "1"))
    for (g <- 0 until SemanticUnparseGrammar.GovernedSeeds) {
      val seed = SemanticUnparseGrammar.Seeds + g
      val (sql, props) = SemanticUnparseGrammar.genGoverned(g)
      val sess = acl.withProperties(props)
      val df = sess.query(sql)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/seed_$seed")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/seed_$seed.source.sql"),
        s"-- governed: $props\n$sql")
      for (d <- Seq("duckdb", "postgres", "trino", "redshift")) {
        try {
          val text = sess.transformSql(sql, d)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/seed_$seed.$d.sql"), text)
        } catch {
          case e: UnsupportedOperationException =>
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/seed_$seed.$d.refused"),
              e.getMessage)
        }
      }
      dumpTranslit(sess, seed, sql)
    }
    println(s"[semantic-sweep-dump] ${SemanticUnparseGrammar.Seeds} base + " +
      s"${SemanticUnparseGrammar.GovernedSeeds} governed seeds -> $outDir")
    spark.stop()
  }
}
