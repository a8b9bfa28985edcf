package graft.api

import java.nio.file.{Files, Path, Paths}

import graft.mdl.{ProjectConvert, YamlProject}

/** `graft context` CLI — the reference's Typer sub-app
  * (`wren/src/wren/context_cli.py:27-604`) as one-shot subcommands:
  *
  * {{{
  * runMain graft.api.ContextCli <cmd> [--path dir] [opts]
  *   init   [--from-mdl m.json] [--force] [--empty]   scaffold / import
  *   ingest --from <rawDir> [--data <parquetDir>]     land raw CSV/TSV/JSON as
  *          [--catalog c] [--schema s] [--force]      typed parquet, draft a
  *          [--disposition replace|append|merge]      project, deploy + smoke-
  *          [--merge-key [table=]col,...]             query it (the reference's
  *                                                    dlt-connector loop, incl.
  *                                                    dlt's write dispositions
  *                                                    for incremental re-lands)
  *   generate --from <parquetDir|jdbc:url>            draft a project from an
  *            [--catalog c] [--schema s]              existing source (models,
  *            [--probe-rows N] [--probe-mb N]         PK candidates, suggested
  *            [--force]
  *                                                    relationships — the
  *                                                    reference's
  *                                                    wren-generate-mdl flow)
  *   quickstart [--path dir] [--force]                seed a deterministic
  *                                                    demo dataset (the
  *                                                    reference's bundled
  *                                                    jaffle-shop-shaped
  *                                                    quickstart, networkless)
  *                                                    and run the full loop:
  *                                                    land → draft → deploy →
  *                                                    first query
  *   validate                                         structure checks
  *   build                                            compile target/mdl.json
  *   show   [--output summary|json|yaml]              project overview
  *   instructions                                     print instructions.md
  *   upgrade [--to N] [--dry-run]                     bump schema_version
  * }}}
  */
object ContextCli {

  /** Project discovery (context.py:337-369): explicit flag →
    * GRAFT_PROJECT_HOME → walk up from cwd to the first `wren_project.yml`
    * (stopping at home/root) → actionable error.
    */
  def discoverProjectPath(
      explicit: Option[String],
      cwd: Path = Paths.get(".").toAbsolutePath.normalize()): Path = {
    explicit.foreach(p => return Paths.get(p))
    sys.env.get("GRAFT_PROJECT_HOME").foreach(p => return Paths.get(p))
    val home = Paths.get(System.getProperty("user.home"))
    var p: Path = cwd
    while (p != null) {
      if (Files.exists(p.resolve("wren_project.yml"))) return p
      if (p == home || p.getParent == null) p = null else p = p.getParent
    }
    throw new IllegalArgumentException(
      "Error: no project found. Run `graft context init` or pass --path.")
  }

  private val ScaffoldProjectYml =
    """schema_version: 3
      |name: my_project
      |version: "1.0"
      |
      |# Engine namespace (NOT your database's catalog/schema).
      |catalog: wren
      |schema: public
      |""".stripMargin

  private val ScaffoldQueriesYml =
    """version: 1
      |pairs: []
      |""".stripMargin

  private val ExampleModel =
    """name: example
      |table_reference:
      |  table: example
      |columns:
      |  - name: id
      |    type: bigint
      |  - name: created_at
      |    type: timestamp
      |primary_key: id
      |""".stripMargin

  /** Testable core: returns what main prints. */
  def run(argv: Seq[String]): String = {
    require(argv.nonEmpty,
      "usage: ContextCli <init|ingest|generate|quickstart|validate|build|show|instructions|upgrade> [options]")
    val cmd = argv.head
    val rest = argv.tail
    def opt(name: String): Option[String] = {
      val i = rest.indexOf(s"--$name")
      if (i >= 0 && i + 1 < rest.length) Some(rest(i + 1)) else None
    }
    def flag(name: String): Boolean = rest.contains(s"--$name")

    cmd match {
      case "init" =>
        val projectPath = Paths.get(opt("path").getOrElse("."))
        opt("from-mdl") match {
          case Some(mdlFile) =>
            val p = Paths.get(mdlFile)
            if (!Files.exists(p))
              throw new IllegalArgumentException(s"Error: $p not found.")
            val mdlJson = new String(Files.readAllBytes(p), "UTF-8")
            val files = ProjectConvert.convertMdlToProject(mdlJson)
            ProjectConvert.writeProjectFiles(files, projectPath, force = flag("force"))
            val j = org.json4s.jackson.JsonMethods.parse(mdlJson)
            def n(k: String) = (j \ k) match {
              case org.json4s.JArray(xs) => xs.size; case _ => 0 }
            s"Imported MDL to YAML project at $projectPath/\n" +
              s"  ${n("models")} models, ${n("views")} views, ${n("relationships")} relationships\n" +
              s"\nNext steps:\n  graft context validate --path $projectPath\n" +
              s"  graft context build --path $projectPath"
          case None =>
            val conflicts = Seq("wren_project.yml", "AGENTS.md", "queries.yml")
              .filter(f => Files.exists(projectPath.resolve(f)))
            if (conflicts.nonEmpty && !flag("force"))
              throw new IllegalStateException("Error: " +
                conflicts.map(c => s"'$c'").mkString(", ") +
                " already exists. Use --force to overwrite.")
            Files.createDirectories(projectPath.resolve("models"))
            Files.createDirectories(projectPath.resolve("views"))
            def write(rel: String, content: String): Unit =
              Files.write(projectPath.resolve(rel), content.getBytes("UTF-8"))
            write("wren_project.yml", ScaffoldProjectYml)
            write("AGENTS.md", ProjectConvert.AgentsMd)
            write("queries.yml", ScaffoldQueriesYml)
            if (!flag("empty")) {
              Files.createDirectories(projectPath.resolve("models/example"))
              write("models/example/metadata.yml", ExampleModel)
            }
            s"Initialized project at $projectPath/\n\nNext: edit models/, then " +
              "`graft context validate`"
        }

      case "generate" =>
        val from = opt("from").getOrElse(throw new IllegalArgumentException(
          "usage: generate --from <parquetDir|jdbc:url> [--path out] " +
            "[--catalog c] [--schema s] [--probe-rows N|--probe-mb N] [--force]"))
        val projectPath = Paths.get(opt("path").getOrElse("."))
        val catalog = opt("catalog").getOrElse("graft")
        val schemaNs = opt("schema").getOrElse("draft")
        val probeRows = opt("probe-rows").map(_.toLong).getOrElse(1000000L)
        val probeBytes = opt("probe-mb").map(_.toLong << 20).getOrElse(256L << 20)
        val spark = graft.SparkProfile.session("graft-generate-mdl")
        val draft =
          if (from.startsWith("jdbc:"))
            graft.mdl.GenerateMdl.fromJdbc(spark, from,
              catalog = catalog, schema = schemaNs, probeRows = probeRows)
          else graft.mdl.GenerateMdl.fromParquetDir(spark, from,
            catalog, schemaNs, probeBytes)
        val mdlJson = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(
            graft.mdl.ManifestJson.toJValue(draft.manifest)))
        val files = ProjectConvert.convertMdlToProject(mdlJson)
        ProjectConvert.writeProjectFiles(files, projectPath, force = flag("force"))
        val m = draft.manifest
        val pkLines = m.models.map(md =>
          s"  ${md.name}: ${md.primaryKey.getOrElse("(none found)")}").mkString("\n")
        val relLines =
          if (m.relationships.isEmpty) "  (none suggested)"
          else m.relationships.map(r =>
            s"  ${r.name} [${r.joinType}]: ${r.condition}").mkString("\n")
        val noteLines = if (draft.notes.isEmpty) ""
          else draft.notes.map("  NOTE " + _).mkString("\n", "\n", "")
        s"Drafted project at $projectPath/ from $from\n" +
          s"  ${m.models.size} models, ${m.relationships.size} suggested relationships\n" +
          s"\nPrimary-key CANDIDATES (uniqueness-probed; confirm before production):\n" +
          pkLines + "\nSuggested relationships (name/type-matched; review):\n" +
          relLines + noteLines +
          s"\n\nNext steps:\n  graft context validate --path $projectPath\n" +
          s"  graft context build --path $projectPath"

      case "ingest" =>
        // the reference's dlt-connector onboarding loop, in-sandbox: land raw
        // CSV/TSV/JSON files as typed parquet, draft a project from the landed
        // tables, deploy the draft over them, and smoke-query every model —
        // one command from raw files to a queryable semantic layer
        val from = opt("from").getOrElse(throw new IllegalArgumentException(
          "usage: ingest --from <rawDir> [--data <parquetDir>] [--path out] " +
            "[--catalog c] [--schema s] " +
            "[--disposition replace|append|merge [--merge-key [t=]col,...]] " +
            "[--force]"))
        val dataDir = opt("data").getOrElse(s"$from/landed")
        val projectPath = Paths.get(opt("path").getOrElse("."))
        val catalog = opt("catalog").getOrElse("graft")
        val schemaNs = opt("schema").getOrElse("draft")
        val disposition = opt("disposition").getOrElse("replace")
        // --merge-key col        -> every merged table keys on col
        // --merge-key t1=c1,t2=c2 -> per-table keys
        val mergeKeys: Map[String, String] =
          opt("merge-key").map(_.split(",").map(_.trim).filter(_.nonEmpty).map {
            spec => spec.split("=", 2) match {
              case Array(t, c) => t -> c
              case Array(c) => "*" -> c
            }
          }.toMap).getOrElse(Map.empty)
        val spark = graft.SparkProfile.session("graft-ingest")
        val landed = graft.mdl.LandRaw.land(
          spark, from, dataDir, disposition, mergeKeys)
        val draft = graft.mdl.GenerateMdl.fromParquetDir(
          spark, dataDir, catalog, schemaNs)
        val mdlJson = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(
            graft.mdl.ManifestJson.toJValue(draft.manifest)))
        ProjectConvert.writeProjectFiles(
          ProjectConvert.convertMdlToProject(mdlJson), projectPath,
          force = flag("force"))
        // close the loop: deploy the draft over the landed tables and count
        // through every model — a draft that cannot deploy+query is not done
        val sess = graft.GraftEngine.deployOnDir(spark, draft.manifest, dataDir)
        // an incremental re-ingest (append/merge, or replace over the same
        // dirs) re-lands paths a CACHED deployment may hold stale FileIndexes
        // for — refresh is the re-land contract (no-op on a fresh deploy)
        sess.refresh()
        val counts = draft.manifest.models.map { md =>
          val n = sess.query(
            s"SELECT count(*) AS n FROM $catalog.$schemaNs.${md.name}")
            .collect()(0).getLong(0)
          s"  ${md.name}: $n rows"
        }
        val landLines = landed.map(l =>
          s"  ${l.table} (${l.format}, ${l.rows} rows, ${l.cols} cols)")
        val relLines =
          if (draft.manifest.relationships.isEmpty) "  (none suggested)"
          else draft.manifest.relationships.map(r =>
            s"  ${r.name} [${r.joinType}]: ${r.condition}").mkString("\n")
        val noteLines = if (draft.notes.isEmpty) ""
          else draft.notes.map("  NOTE " + _).mkString("\n", "\n", "")
        s"Landed ${landed.size} raw tables into $dataDir" +
          (if (disposition == "replace") "" else s" (disposition: $disposition)") +
          ":\n" +
          landLines.mkString("\n") +
          s"\nDrafted project at $projectPath/ " +
          s"(${draft.manifest.models.size} models, " +
          s"${draft.manifest.relationships.size} suggested relationships)\n" +
          "Suggested relationships:\n" + relLines + noteLines +
          "\nDeployed draft over the landed tables; model row counts:\n" +
          counts.mkString("\n") +
          s"\n\nNext steps:\n  graft context validate --path $projectPath\n" +
          s"  graft context build --path $projectPath"

      case "quickstart" =>
        // the reference's bundled-demo onboarding (`docs/get_started/
        // quickstart.md`: seed the jaffle_shop dbt demo, connect, run a first
        // query) without the network: seed a DETERMINISTIC demo dataset of
        // the same published shape (customers / orders / payments) in-code,
        // then run the whole onboarding loop — land → draft → deploy → a
        // first analytical query — so a new user sees the engine work
        // end-to-end in one command with nothing to download
        val projectPath = Paths.get(opt("path").getOrElse("quickstart"))
        val rawDir = projectPath.resolve("raw")
        Files.createDirectories(rawDir)
        val rnd = new scala.util.Random(20260816L)
        val firsts = Seq("ada", "grace", "alan", "edsger", "barbara", "donald",
          "tony", "john", "leslie", "margaret")
        val lasts = Seq("rivers", "stone", "hale", "brook", "fern", "vale")
        val nCust = 30; val nOrders = 100
        val custCsv = new StringBuilder("id,first_name,last_name\n")
        for (i <- 1 to nCust)
          custCsv ++= s"$i,${firsts(rnd.nextInt(firsts.size))}," +
            s"${lasts(rnd.nextInt(lasts.size))}\n"
        val statuses =
          Seq("placed", "shipped", "completed", "returned", "return_pending")
        val orderCsv = new StringBuilder("id,customer_id,order_date,status\n")
        for (i <- 1 to nOrders)
          orderCsv ++= s"$i,${1 + rnd.nextInt(nCust)}," +
            f"2025-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d," +
            s"${statuses(rnd.nextInt(statuses.size))}\n"
        val methods = Seq("credit_card", "coupon", "bank_transfer", "gift_card")
        val payCsv = new StringBuilder("id,order_id,payment_method,amount_cents\n")
        var pid = 0
        for (o <- 1 to nOrders; _ <- 0 until (1 + rnd.nextInt(2))) {
          pid += 1
          payCsv ++= s"$pid,$o,${methods(rnd.nextInt(methods.size))}," +
            s"${500 + rnd.nextInt(9500)}\n"
        }
        Seq("customers.csv" -> custCsv, "orders.csv" -> orderCsv,
          "payments.csv" -> payCsv).foreach { case (f, sb) =>
          Files.write(rawDir.resolve(f), sb.toString.getBytes("UTF-8")) }
        // the ingest loop, end-to-end (same machinery as `ingest`)
        val dataDir = projectPath.resolve("landed").toString
        val spark = graft.SparkProfile.session("graft-quickstart")
        val landed = graft.mdl.LandRaw.land(spark, rawDir.toString, dataDir)
        val draft = graft.mdl.GenerateMdl.fromParquetDir(
          spark, dataDir, "graft", "demo")
        val mdlJson = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(
            graft.mdl.ManifestJson.toJValue(draft.manifest)))
        ProjectConvert.writeProjectFiles(
          ProjectConvert.convertMdlToProject(mdlJson), projectPath,
          force = flag("force"))
        val sess = graft.GraftEngine.deployOnDir(spark, draft.manifest, dataDir)
        // a re-run re-lands the same paths in place: the cached deployment's
        // scan FileIndexes are stale until refreshed (the LandRaw re-land
        // contract; no-op on a fresh deploy)
        sess.refresh()
        // first query: lifetime value per customer through both suggested
        // relationships (payments → orders → customers)
        val firstSql =
          """SELECT c.first_name || ' ' || c.last_name AS customer,
            |       sum(p.amount_cents) AS lifetime_value_cents
            |FROM graft.demo.payments p
            |JOIN graft.demo.orders o ON p.order_id = o.id
            |JOIN graft.demo.customers c ON o.customer_id = c.id
            |GROUP BY 1 ORDER BY lifetime_value_cents DESC, customer
            |LIMIT 3""".stripMargin
        val top = sess.query(firstSql).collect().map(r =>
          s"  ${r.getString(0)}: ${r.getLong(1)} cents")
        val relLines =
          if (draft.manifest.relationships.isEmpty) "  (none suggested)"
          else draft.manifest.relationships.map(r =>
            s"  ${r.name} [${r.joinType}]: ${r.condition}").mkString("\n")
        s"Seeded demo dataset under $rawDir (" +
          landed.map(l => s"${l.table} ${l.rows} rows").mkString(", ") + ")\n" +
          s"Drafted + deployed project at $projectPath/ " +
          s"(${draft.manifest.models.size} models)\n" +
          "Suggested relationships:\n" + relLines + "\n" +
          "First query — top customers by lifetime value:\n" +
          firstSql.linesIterator.map("  | " + _).mkString("\n") + "\n" +
          top.mkString("\n") +
          s"\n\nNext steps:\n  graft context show --path $projectPath\n" +
          s"  graft context validate --path $projectPath"

      case "validate" =>
        val projectPath = discoverProjectPath(opt("path"))
        val issues = YamlProject.validate(projectPath)
        if (issues.isEmpty) "Project is valid."
        else issues.mkString("\n")

      case "build" =>
        val projectPath = discoverProjectPath(opt("path"))
        val issues = YamlProject.validate(projectPath)
        if (issues.nonEmpty)
          throw new IllegalStateException(
            s"Error: project has issues:\n${issues.mkString("\n")}")
        val json = YamlProject.buildManifestJson(projectPath)
        val target = projectPath.resolve("target")
        Files.createDirectories(target)
        Files.write(target.resolve("mdl.json"), json.getBytes("UTF-8"))
        s"Built ${target.resolve("mdl.json")} (${json.length} bytes)"

      case "show" =>
        val projectPath = discoverProjectPath(opt("path"))
        opt("output").getOrElse("summary") match {
          case "json" =>
            org.json4s.jackson.JsonMethods.pretty(
              org.json4s.jackson.JsonMethods.parse(
                YamlProject.buildManifestJson(projectPath)))
          case "yaml" =>
            // snake_case YAML, the project files' native form (context_cli
            // show --output yaml)
            ProjectConvert.manifestYaml(YamlProject.buildManifestJson(projectPath))
          case other if other != "summary" =>
            throw new IllegalArgumentException(
              s"unsupported output format '$other'. Use summary, json or yaml.")
          case _ =>
            val m = YamlProject.buildManifest(projectPath)
            val lines = scala.collection.mutable.ListBuffer.empty[String]
            lines += s"Project: ${m.catalog}.${m.schema}"
            lines += s"Path: $projectPath"
            lines += ""
            if (m.models.nonEmpty) {
              lines += s"Models (${m.models.size}):"
              m.models.foreach { md =>
                val source = if (md.refSql.isDefined) "ref_sql" else "table"
                lines += s"  ${md.name}  ($source, ${md.columns.size} columns, " +
                  s"pk=${md.primaryKey.getOrElse("—")})"
              }
            }
            if (m.views.nonEmpty) {
              lines += ""
              lines += s"Views (${m.views.size}):"
              m.views.foreach(v => lines += s"  ${v.name}")
            }
            if (m.relationships.nonEmpty) {
              lines += ""
              lines += s"Relationships (${m.relationships.size}):"
              m.relationships.foreach(r =>
                lines += s"  ${r.name}  (${r.models.mkString(" ↔ ")}, ${r.joinType})")
            }
            if (m.models.isEmpty && m.views.isEmpty)
              lines += "Empty project. Run `graft context init` to get started."
            lines.mkString("\n")
        }

      case "instructions" =>
        val projectPath = discoverProjectPath(opt("path"))
        val f = projectPath.resolve("instructions.md")
        if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8") else ""

      case "upgrade" =>
        val projectPath = discoverProjectPath(opt("path"))
        val current = ProjectConvert.getSchemaVersion(projectPath)
        val result = ProjectConvert.planUpgrade(projectPath, opt("to").map(_.toInt))
        if (result.fromVersion == result.toVersion ||
          (result.filesCreated.isEmpty && result.filesDeleted.isEmpty &&
            result.filesModified.isEmpty))
          s"Already at schema_version $current. Nothing to do."
        else if (flag("dry-run")) {
          val out = scala.collection.mutable.ListBuffer(
            "Dry run — no files will be changed.", "")
          if (result.filesCreated.nonEmpty)
            out += ("Would create:" +: result.filesCreated.map("  " + _)).mkString("\n")
          if (result.filesDeleted.nonEmpty)
            out += ("Would delete:" +: result.filesDeleted.map("  " + _)).mkString("\n")
          out += s"Would update schema_version ${result.fromVersion} → ${result.toVersion}."
          out.mkString("\n")
        } else {
          ProjectConvert.applyUpgrade(projectPath, result)
          s"Upgraded schema_version ${result.fromVersion} → ${result.toVersion}."
        }

      case other => throw new IllegalArgumentException(s"unknown command: $other")
    }
  }

  def main(args: Array[String]): Unit = println(run(args.toSeq))
}
