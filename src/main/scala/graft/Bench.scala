package graft

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.ResultFormatter.jsonString

/** Suite timer over `SparkEntry.queries`: each entry's warm latency with the
  * noop sink as the timed action, printed as one JSON line. It times
  * `DataFrame → noop sink` only; the served path is measured by servebench and
  * uncached planning by [[PlanProfile]].
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Bench"`.
  */
object Bench {
  type Entry = (SparkSession, String) => DataFrame

  private val warmRuns = 3

  /** Entries in the `errors` list; `failed` always carries the full count. */
  private val maxErrorNames = 20

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkProfile.session("graft-bench")
    val line = try run(spark, sfDir, SparkEntry.queries.toSeq) finally spark.stop()
    // last, after Spark's shutdown output: build.sbt documents a reader that
    // parses the final line of the output's last ~2000 characters
    println(line)
    System.out.flush()
  }

  /** One cold pass (codegen, file listing, manifest deploy), then `warmRuns`
    * passes interleaved round-robin across entries, so a GC or JIT stall hits
    * one sample of many entries rather than every sample of one. An entry with
    * a failed run contributes no timing to any median or total; it is named
    * under `errors`. The `tpch_qN_translit_*` entries run the same Spark plan
    * as `tpch_qN` and are skipped.
    *
    * The line carries per-entry medians for the TPC-H queries and one total
    * per family for the rest, which keeps it under ~1.8 KB.
    */
  def run(spark: SparkSession, sfDir: String, entries: Seq[(String, Entry)]): String = {
    val timed = entries.filterNot(_._1.contains("_translit")).sortBy(_._1)
    def once(name: String, fn: Entry): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    val cold = timed.map { case (n, fn) => n -> once(n, fn) }.toMap
    val warm = (1 to warmRuns).flatMap(_ => timed.map { case (n, fn) => n -> once(n, fn) })
      .groupMap(_._1)(_._2)
    val (ok, failed) = timed.map(_._1)
      .partition(n => cold(n).isDefined && warm(n).forall(_.isDefined))
    val medians = ok.map { n =>
      val ws = warm(n).flatten.sorted
      n -> ws(ws.size / 2)
    }
    val (tpch, others) = medians.partition { case (n, _) =>
      n.startsWith("tpch_") && !n.endsWith("_unparse") }
    val families = others.groupMapReduce(p => family(p._1))(_._2)(_ + _).toSeq.sortBy(_._1)
    def f3(d: Double) = "%.3f".formatLocal(Locale.ROOT, d)
    val queries = (tpch ++ families).map { case (k, v) => s"${jsonString(k)}:${f3(v)}" }
    s"""{"metric":"total","value":${f3(medians.map(_._2).sum)},"unit":"sec",""" +
      s""""timing":"warm_median_of_$warmRuns","timed_action":"noop",""" +
      s""""cold_total_sec":${f3(ok.flatMap(cold).sum)},""" +
      s""""master":${jsonString(spark.sparkContext.master)},"sf":${jsonString(sfDir)},""" +
      s""""failed":${failed.size},""" +
      s""""errors":${failed.take(maxErrorNames).map(jsonString).mkString("[", ",", "]")},""" +
      s""""queries":${queries.mkString("{", ",", "}")}}"""
  }

  /** The family total an entry's median is summed into. */
  private def family(name: String): String =
    if (name.endsWith("_unparse") || name.endsWith("_postgres") ||
      name.endsWith("_trino") || name.endsWith("_redshift")) "suite_unparse"
    else if (name.startsWith("mm")) "suite_multimodal"
    else if (name.startsWith("er") || name.startsWith("g")) "suite_graph_er"
    else name.head match {
      case 'm' => "suite_semantic"   case 'q' => "suite_relational"
      case 'd' => "suite_dedup"      case 'e' => "suite_events"
      case 'f' => "suite_functions"  case 's' => "suite_ann"
      case 't' => "suite_text"       case 'p' => "suite_pipeline"
      case _   => "suite_other"
    }
}
