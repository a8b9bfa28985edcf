package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.{GraftEngine, SparkProfile}
import graft.queries.{Semantic, TpcH}

/** Golden-text generator for the unparse layer: renders the m21–m25 semantic
  * corpus in every dialect plus the full TPC-H corpus in the executable
  * dialects, writing one file per (dialect, query) under the output dir
  * (default `src/test/resources/goldens/`). The dialect specs compare the live
  * rendering against these files, so a rendering change is a one-command
  * regeneration (`sbt "runMain graft.tools.GoldenGen"`) reviewed as a plain
  * git diff — the reference maintains its dialect snapshots the same way
  * (insta snapshots, `wren-core/core/src/mdl/mod.rs:648+`).
  */
object GoldenGen {
  val dialects: Seq[String] = graft.semantics.SqlUnparser.dialects.map(_.name)

  val corpus: Seq[(String, String)] = Seq(
    "m21" -> Semantic.m21Sql, "m22" -> Semantic.m22Sql,
    "m23" -> Semantic.m23Sql, "m24" -> Semantic.m24Sql,
    "m25" -> Semantic.m25Sql, "m26" -> Semantic.m26Sql,
    "m27" -> Semantic.m27Sql, "m28" -> Semantic.m28Sql,
    "m31" -> Semantic.m31Sql, "m32" -> Semantic.m32Sql,
    "m33" -> Semantic.m33Sql, "m34" -> Semantic.m34Sql,
    "m35" -> Semantic.m35Sql, "m36" -> Semantic.m36Sql,
    "m37" -> Semantic.m37Sql)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/goldens")
    val spark = SparkProfile.session("graft-goldengen")
    var n = 0
    def write(dialect: String, name: String, text: String): Unit = {
      val p = Paths.get(outDir, dialect, s"$name.sql")
      Files.createDirectories(p.getParent)
      Files.write(p, (text + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      n += 1
    }
    // a loud refusal is reported and writes no pin; any other exception is a
    // rendering bug and ends the run with a non-zero exit
    def render(d: String, name: String, text: => String): Unit =
      try write(d, name, text)
      catch { case e: UnsupportedOperationException =>
        System.err.println(s"[golden-gen] $d/$name: ${e.getMessage}") }
    try {
      val sem = GraftEngine.deployOnDir(spark, Semantic.manifest, "/root/testdata/sf0.001")
      for (d <- dialects; (name, sql) <- corpus) render(d, name, sem.transformSql(sql, d))
      val tpch = GraftEngine.deployOnDir(spark, TpcH.manifest, "/root/testdata/sf0.001")
      for ((name, sql) <- TpcH.oracles.toSeq.sortBy(_._1);
           d <- Seq("duckdb", "postgres", "trino", "redshift"))
        render(d, name, tpch.transformSql(sql, d))
      println(s"[golden-gen] wrote $n files under $outDir")
    } finally spark.stop()
  }
}
