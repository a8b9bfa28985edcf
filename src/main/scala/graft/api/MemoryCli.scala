package graft.api

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkProfile
import graft.mdl.{Manifest, ManifestJson}
import graft.memory._

/** `graft memory` CLI — the reference's Typer sub-app
  * (`wren/src/wren/memory/cli.py:150-684`) as one-shot subcommands:
  *
  * {{{
  * runMain graft.api.MemoryCli <cmd> [--mdl m.json] [--path memdir] [opts]
  *   index     [--no-seed]                      index schema (+ seed pairs)
  *   describe                                   full plain-text schema
  *   fetch     --query q [--limit n] [--type t] [--model m] [--threshold n] [--output json|table]
  *   store     --nl text --sql text [--datasource d] [--tags t]
  *   recall    --query q [--limit n] [--datasource d] [--output json|table]
  *   status
  *   reset     --force
  *   list      [--source s] [--limit n] [--offset n] [--output json|table]
  *   forget    --id N [--id N ...] | --source s --force
  *   dump      [--source s] [--output file|-]
  *   load      <file> [--upsert|--overwrite] [--dry-run]
  * }}}
  */
object MemoryCli {

  /** Flags that take NO value — their following token is a positional, so
    * `load --upsert queries.yml` parses the same as `load queries.yml --upsert`.
    */
  private val BooleanFlags =
    Set("no-seed", "force", "dry-run", "upsert", "overwrite")

  private final class Args(argv: Seq[String]) {
    def flag(name: String): Boolean = argv.contains(s"--$name")
    def opt(name: String): Option[String] = {
      val i = argv.indexOf(s"--$name")
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    def multi(name: String): Seq[String] =
      argv.zipWithIndex.collect {
        case (a, i) if a == s"--$name" && i + 1 < argv.length => argv(i + 1)
      }
    def positional: Seq[String] = {
      val optNames = argv.zipWithIndex.collect {
        case (a, i) if a.startsWith("--") &&
          !BooleanFlags.contains(a.stripPrefix("--")) &&
          i + 1 < argv.length && !argv(i + 1).startsWith("--") => i + 1
      }.toSet
      argv.zipWithIndex.collect {
        case (a, i) if !a.startsWith("--") && !optNames.contains(i) => a
      }
    }
  }

  private def loadManifest(a: Args): Manifest = {
    val mdl = a.opt("mdl").getOrElse(
      throw new IllegalArgumentException("--mdl <manifest.json> is required"))
    if (mdl.trim.startsWith("{")) ManifestJson.parse(mdl)
    else {
      val p = Paths.get(mdl)
      require(Files.exists(p), s"MDL file not found: $p")
      ManifestJson.parse(new String(Files.readAllBytes(p), "UTF-8"))
    }
  }

  private def renderRows(rows: Seq[Map[String, Any]], output: String): String = {
    // validate the format even for empty results, like a Typer choice option
    if (!Set("json", "table").contains(output.toLowerCase))
      throw new IllegalArgumentException(
        s"unsupported output format '${output.toLowerCase}'. Use json or table.")
    if (rows.isEmpty) return "No results found."
    output.toLowerCase match {
      case "json" =>
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        JsonMethods.pretty(JsonMethods.render(JArray(rows.toList.map(r =>
          JObject(r.toList.map { case (k, v) => k -> (v match {
            case null => JNull
            case d: Double => JDouble(d)
            case l: Long => JInt(BigInt(l))
            case i: Int => JInt(BigInt(i))
            case b: Boolean => JBool(b)
            case ts: java.sql.Timestamp => JString(ts.toInstant.toString)
            case other => JString(other.toString)
          })})))))
      case "table" =>
        val cols = rows.head.keys.toSeq.sorted.filterNot(_ == "vector")
        (cols.mkString("\t") +:
          rows.map(r => cols.map(c => r.get(c).map {
            case ts: java.sql.Timestamp => ts.toInstant.toString
            case v => String.valueOf(v)
          }.getOrElse("")).mkString("\t"))).mkString("\n")
      case other =>
        throw new IllegalArgumentException(
          s"unsupported output format '$other'. Use json or table.")
    }
  }

  /** Testable core: returns what main prints. */
  def run(spark: SparkSession, argv: Seq[String]): String = {
    require(argv.nonEmpty, "usage: MemoryCli <cmd> [options]")
    val cmd = argv.head
    val a = new Args(argv.tail)
    // per-user default, like the reference's ~/.wren/memory (memory/cli.py)
    val path = a.opt("path").getOrElse(
      Paths.get(System.getProperty("user.home"), ".graft", "memory").toString)
    def store = new MemoryStore(spark, path)
    val output = a.opt("output").getOrElse("table")

    cmd match {
      case "index" =>
        val m = loadManifest(a)
        val (schemaCount, seedCount) =
          store.indexSchema(m, seedQueries = !a.flag("no-seed"))
        s"Indexed $schemaCount schema items" +
          (if (seedCount > 0) s", $seedCount seed queries" else "") + "."

      case "describe" =>
        SchemaIndexer.describeSchema(loadManifest(a))

      case "fetch" =>
        val q = a.opt("query").getOrElse(
          throw new IllegalArgumentException("--query is required"))
        val m = loadManifest(a)
        val ctx = store.getContext(m, q,
          limit = a.opt("limit").map(_.toInt).getOrElse(5),
          itemType = a.opt("type"), modelName = a.opt("model"),
          threshold = a.opt("threshold").map(_.toInt)
            .getOrElse(SchemaIndexer.SchemaDescribeThreshold))
        ctx match {
          case FullContext(schema) => s"Strategy: full\n$schema"
          case SearchContext(results) =>
            s"Strategy: search\n${renderRows(results, output)}"
        }

      case "store" =>
        val nl = a.opt("nl").getOrElse(throw new IllegalArgumentException("--nl is required"))
        val sql = a.opt("sql").getOrElse(throw new IllegalArgumentException("--sql is required"))
        store.storeQuery(nl, sql, a.opt("datasource"), a.opt("tags"))
        "Query stored."

      case "recall" =>
        val q = a.opt("query").getOrElse(
          throw new IllegalArgumentException("--query is required"))
        renderRows(store.recallQueries(q,
          limit = a.opt("limit").map(_.toInt).getOrElse(3),
          datasource = a.opt("datasource")), output)

      case "status" =>
        val (p, tables) = store.status()
        if (tables.isEmpty) s"Path: $p\nNo tables indexed yet."
        else s"Path: $p\n" + tables.toSeq.sortBy(_._1)
          .map { case (n, c) => s"  $n: $c rows" }.mkString("\n")

      case "reset" =>
        require(a.flag("force"), "reset requires --force (non-interactive CLI)")
        store.reset()
        "Memory reset."

      case "list" =>
        val (rows, total) = store.listQueries(
          source = a.opt("source"),
          limit = a.opt("limit").map(_.toInt).getOrElse(20),
          offset = a.opt("offset").map(_.toInt).getOrElse(0))
        if (rows.isEmpty) "No pairs found."
        else {
          val offset = a.opt("offset").map(_.toInt).getOrElse(0)
          val end = math.min(offset + rows.size, total)
          renderRows(rows, output) +
            s"\n\nShowing ${offset + 1}-$end of $total pairs."
        }

      case "forget" =>
        val ids = a.multi("id").map(_.toLong)
        if (ids.nonEmpty) {
          require(a.opt("source").isEmpty, "--id and --source cannot be used together.")
          s"Forgot ${store.forgetQueriesByIds(ids)} pair(s)."
        } else {
          val source = a.opt("source").getOrElse(
            throw new IllegalArgumentException("forget requires --id or --source"))
          require(a.flag("force"), "batch forget requires --force (non-interactive CLI)")
          val count = store.countQueriesBySource(source)
          if (count == 0) "Nothing to forget."
          else s"Forgot ${store.forgetQueriesBySource(source)} pair(s) with source:$source."
        }

      case "dump" =>
        val rows = store.dumpQueries(a.opt("source"))
        if (rows.isEmpty) "No pairs to dump."
        else {
          val content = MemoryYaml.pairsToYaml(rows)
          a.opt("output").filter(_ != "-") match {
            case Some(file) =>
              Files.write(Paths.get(file), content.getBytes("UTF-8"))
              s"Dumped ${rows.size} pair(s) to $file"
            case None => content
          }
        }

      case "load" =>
        val file = a.positional.headOption.getOrElse(
          throw new IllegalArgumentException("usage: load <file.yml>"))
        val p = Paths.get(file)
        require(Files.exists(p), s"file not found: $p")
        val pairs = MemoryYaml.parsePairs(new String(Files.readAllBytes(p), "UTF-8"))
        if (pairs.isEmpty) "No pairs to load."
        else if (a.flag("dry-run")) s"Would load ${pairs.size} pair(s)."
        else {
          val r = store.loadQueries(pairs,
            overwrite = a.flag("overwrite"), upsert = a.flag("upsert"))
          val parts = Seq(
            if (r.loaded > 0) Some(s"${r.loaded} new") else None,
            if (r.updated > 0) Some(s"${r.updated} updated") else None,
            if (r.skipped > 0) Some(s"${r.skipped} skipped") else None).flatten
          s"Loaded ${r.loaded + r.updated} pair(s) (${parts.mkString(", ")})."
        }

      case other => throw new IllegalArgumentException(s"unknown command: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkProfile.session("graft-memory-cli")
    println(run(spark, args.toSeq))
    spark.stop()
  }
}
