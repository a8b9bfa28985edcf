package graft.api

import org.apache.spark.sql.SparkSession

import graft.{GraftEngine, SparkProfile}
import graft.planner.PathResolver

/** One-shot CLI over the engine — the reference's `wren` CLI/SDK surface
  * (`wren/src/wren/engine.py:1-60`: load MDL, transform/execute SQL) reduced to its
  * engine-facing core:
  *
  * {{{
  * runMain graft.api.Cli <dataDir> <manifest.json|base64> <sql> [--json|--plan|--dry-run]
  * }}}
  *
  * Default output is a text table; `--json` emits the v3 result JSON, `--plan` the
  * planned (optimized) form, `--dry-run` validates only. Session properties pass as
  * `-P name=value` pairs (the header-variable analogue for scripts).
  */
object Cli {

  /** Testable core: returns what main prints. The manifest argument accepts inline
    * JSON, a .json file path, or a YAML PROJECT DIRECTORY (the reference's
    * `wren context build` layout — compiled through [[graft.mdl.YamlProject]],
    * validation errors abort the deploy).
    */
  def run(
      spark: SparkSession, dataDir: String, manifest: String, sql: String,
      mode: String = "table", props: Map[String, String] = Map.empty): String = {
    val path = java.nio.file.Paths.get(if (manifest.trim.startsWith("{")) "." else manifest)
    // `@profile[:name]` as the data-dir resolves the connection from the
    // profile store instead of a path — the reference CLI's no-flags flow
    // (active profile) and `--profile name` (profile.py:247-267)
    val resolver: graft.planner.TableResolver =
      if (dataDir.startsWith("@profile")) {
        val store = new Profiles()
        val named = dataDir.stripPrefix("@profile").stripPrefix(":").trim
        val profile =
          if (named.nonEmpty) store.listProfiles().getOrElse(named,
            throw new IllegalArgumentException(s"Error: profile '$named' not found."))
          else {
            val (_, p) = store.activeProfile()
            require(p.nonEmpty, "no active profile — run `graft profile add` first")
            p
          }
        graft.planner.Connections.fromProfile(store.expandSecrets(profile))
      } else new PathResolver(dataDir)
    val session =
      if (!manifest.trim.startsWith("{") && java.nio.file.Files.isDirectory(path)) {
        val issues = graft.mdl.YamlProject.validate(path)
        require(issues.isEmpty, s"invalid project:\n${issues.mkString("\n")}")
        GraftEngine.deploy(spark, graft.mdl.YamlProject.buildManifest(path),
          resolver, props)
      } else {
        val manifestStr =
          if (manifest.trim.startsWith("{")) manifest
          else new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        GraftEngine.deployJson(spark, manifestStr, resolver, props)
      }
    // ~/.graft/config.json gates every CLI query, like the reference's
    // WrenConfig (engine.py:175-187): strict mode rejects non-model tables,
    // denied functions are forbidden anywhere in the query
    val config = GraftConfig.load(Profiles.defaultHome)
    if (config.enforces)
      session.validatePolicy(sql, config.strictMode, config.deniedFunctions)
    mode match {
      case "json" => session.queryJson(sql)
      case "plan" => session.transformSql(sql)
      case "dry-run" => session.dryRun(sql); "OK"
      case _ => format(session.query(sql), numRows = 1000)
    }
  }

  /** The reference's post-query memory hint (`wren/src/wren/cli.py:269-286`):
    * after a non-exploratory query, suggest storing the NL→SQL pair; trivial
    * peeks ([[graft.memory.SqlClassify.isExploratory]]) stay tip-free. The
    * SQL's single quotes escape shell-style (`'` → `'\''`), like the
    * reference's `_print_store_tip`. `main` prints this to stderr so the
    * data output stays pipeable.
    */
  def storeTip(sql: String): Option[String] =
    if (graft.memory.SqlClassify.isExploratory(sql)) None
    else Some(
      "\n# To save this query:\n# graft memory store --nl '<natural language question>' " +
        s"--sql '${sql.replace("'", "'\\''")}'")

  // Dataset.showString is private[sql]; format compactly ourselves.
  private def format(df: org.apache.spark.sql.DataFrame, numRows: Int): String = {
    val rows = df.limit(numRows).collect()
    val header = df.columns.mkString("\t")
    (header +: rows.map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("\t")))
      .mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val propPairs = args.sliding(2).collect {
      case Array("-P", kv) if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val pos = positional.filterNot(a => a == "-P" || propPairs.exists { case (k, v) => a == s"$k=$v" })
    require(pos.length >= 3,
      "usage: Cli <dataDir> <manifest.json> <sql> [--json|--plan|--dry-run] [--quiet] [-P k=v]")
    val quiet = flags.contains("--quiet")
    val mode = flags.filterNot(_ == "--quiet")
      .headOption.map(_.stripPrefix("--")).getOrElse("table")
    val spark = SparkProfile.session("graft-cli")
    println(run(spark, pos(0), pos(1), pos(2), mode, propPairs))
    // the store-tip follows executed queries only (not plan/dry-run), and
    // --quiet suppresses it — reference `wren --sql ... [--quiet]` behavior
    if (!quiet && (mode == "table" || mode == "json"))
      storeTip(pos(2)).foreach(System.err.println)
    spark.stop()
  }
}
