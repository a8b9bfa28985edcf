package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** 10× scale smoke for the SEMANTIC-LAYER path itself — the one flagship
  * family without a measured decade (SCALE_SMOKE.md covers dedup, curation,
  * ANN, events, z-order, multimodal, streaming, leakage; the engine's own
  * MDL→plan→execute path had only single-scale bench numbers).
  *
  * Corpus synthesis from `sf0.1` (lineitem ~600k rows → ~6M at ×10):
  *   - FACT tables (`customer supplier part orders lineitem`) get `copies`
  *     key-shifted replicas: copy k shifts `*_custkey`/`*_suppkey`/`*_partkey`
  *     by k·10⁷ and `*_orderkey` by k·10⁸, so every declared relationship
  *     (order→customer, lineitem→order, lineitem→part/supplier) joins exactly
  *     within its copy — per-entity join fan-out is scale-invariant, which is
  *     how a real business corpus grows (more customers, not denser ones).
  *     Dates, prices, and categorical values are untouched, so every TPC-H
  *     predicate selects the same fraction at both scales.
  *   - DIMENSION tables (`nation region`) stay fixed — the realistic axis
  *     (there are only so many nations), and the broadcast-dispatch claim
  *     under test: dimension joins must STAY broadcast at 10× fact growth.
  *
  * Queries run through the exact driver entries (`SparkEntry.queries`), i.e.
  * the full user path: manifest deploy (cached after the warm run, as in a
  * resident server), semantic expansion, Catalyst planning, AQE execution.
  * Reported per (query, scale): wall seconds (best of `runs`), result rows,
  * total + peak-stage shuffle-write bytes, and the FINAL (post-AQE) join
  * operator mix — broadcast-hash vs sort-merge/shuffled-hash counts read from
  * an untimed executed plan, so plan-shape drift at scale is observed rather
  * than assumed.
  *
  * Chosen shapes (the expensive ends of the semantic + TPC-H surface):
  *   - tpch_q1   scan + 4-group aggregate (pure map-side combine law)
  *   - tpch_q3   fact⨝fact⨝dim + top-K (TakeOrderedAndProject law)
  *   - tpch_q9   5-way join incl. two fact⨝fact (the join-mix stressor)
  *   - tpch_q18  grouped-HAVING aggregate joined to a 3-way join (the r15
  *               single-pass rewrite — no IN-subquery since then)
  *   - tpch_q21  per-order distinct-count aggregate over lineitem⨝orders (the
  *               r16 single-pass rewrite — EXISTS/NOT-EXISTS gone since then)
  *   - m3_calc_to_many   to-many calc: pre-aggregate + pk join-back
  *   - m13_cube          cube lattice materialization over orders⨝customer
  *   - m6_rlac           governed full-model scan (RLAC filter pushdown)
  *
  * Run: `sbt "runMain graft.tools.SemanticScaleSmoke"` (≈6 min at sf0.1×10).
  * Raw output `semantic_scale_smoke.json`; the markdown table on stdout is
  * pasted into SCALE_SMOKE.md.
  */
object SemanticScaleSmoke {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = graft.SparkProfile.session("graft-semscalesmoke")
    // the decade protocol: 32 shuffle partitions at 10×, 96 at 30×, 320 at 100×
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val meter = SmokeMeter.register(spark)

    val work = java.nio.file.Files.createTempDirectory("graft_semscale_").toString

    // Key shifts per copy: orderkey stride 10⁸, entity keys stride 10⁷ — both
    // far above the sf0.1 key ranges (o_orderkey < 10⁶), so copies never collide.
    val keyShift: Map[String, Long] = Map(
      "c_custkey" -> 10000000L, "o_custkey" -> 10000000L,
      "s_suppkey" -> 10000000L, "l_suppkey" -> 10000000L,
      "p_partkey" -> 10000000L, "l_partkey" -> 10000000L,
      "o_orderkey" -> 100000000L, "l_orderkey" -> 100000000L)
    val facts = Seq("customer", "supplier", "part", "orders", "lineitem")
    val dims = Seq("nation", "region")

    def synth(tag: String, n: Int): String = {
      val dir = s"$work/$tag"
      facts.foreach { t =>
        val base = spark.read.parquet(s"$sfDir/$t.parquet")
        def copy(k: Int): DataFrame =
          if (k == 0) base
          else base.columns.foldLeft(base) { (df, c) =>
            keyShift.get(c).fold(df)(stride =>
              df.withColumn(c, col(c) + k * stride))
          }
        (0 until n).map(copy).reduce(_ union _)
          .repartition(32).write.parquet(s"$dir/$t.parquet")
      }
      dims.foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .repartition(1).write.parquet(s"$dir/$t.parquet")
      }
      dir
    }
    // The 1× corpus goes through the same writer so file layout (32 parquet
    // files per fact table) is identical and wall factors isolate data volume.
    val x1 = synth("x1", 1)
    val x10 = synth("x10", copies)

    val suites = Seq("tpch_q1", "tpch_q3", "tpch_q9", "tpch_q18", "tpch_q21",
      "m3_calc_to_many", "m13_cube", "m6_rlac")

    def timed(name: String, dir: String): (Double, Long, Long, Long) =
      meter.best(runs)(SparkEntry.queries(name)(spark, dir).count())
    /** Untimed executed-plan read: collect() drives the query's OWN
      * QueryExecution to completion so AdaptiveSparkPlan reports the FINAL
      * join strategies, not the initial static plan.
      */
    def joinMix(name: String, dir: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      def n(op: String) = op.r.findAllIn(plan).size
      s"${n("BroadcastHashJoin")}bhj/${n("SortMergeJoin")}smj/" +
        s"${n("ShuffledHashJoin")}shj"
    }

    suites.foreach(timed(_, x1)) // warm codegen/JIT + deploy caches
    def mb(b: Long): String = f"${b / 1e6}%.1f"
    val results = suites.map { name =>
      val (t1, r1, s1, p1) = timed(name, x1)
      val mix1 = joinMix(name, x1)
      val (t10, r10, s10, p10) = timed(name, x10)
      val mix10 = joinMix(name, x10)
      val row = Map(
        "query" -> name, "t1_sec" -> f"$t1%.2f", "t10_sec" -> f"$t10%.2f",
        "wall_factor" -> f"${t10 / t1}%.1f",
        "rows1" -> r1.toString, "rows10" -> r10.toString,
        "shuffle1_mb" -> mb(s1), "shuffle10_mb" -> mb(s10),
        "peak_stage1_mb" -> mb(p1), "peak_stage10_mb" -> mb(p10),
        "peak_per_part1_mb" -> mb(p1 / 32), "peak_per_part10_mb" -> mb(p10 / 32),
        "shuffle_factor" -> (if (s1 > 0) f"${s10.toDouble / s1}%.1f" else "-"),
        "join_mix1" -> mix1, "join_mix10" -> mix10)
      println(s"[semscale] $name 1x=${row("t1_sec")}s 10x=${row("t10_sec")}s " +
        s"factor=${row("wall_factor")} rows ${r1}->${r10} " +
        s"shuffle ${row("shuffle1_mb")}->${row("shuffle10_mb")} MB " +
        s"peak ${row("peak_stage1_mb")}->${row("peak_stage10_mb")} MB " +
        s"joins ${mix1}->${mix10}")
      row
    }

    // ---- 30× third decade for the heaviest movers --------------------------
    // q18/q21 are the shapes whose build sides grow with the corpus (the 10×
    // factors above). One more decade at a rows-per-partition-scaled partition
    // count (32 → 96), the skew-decade protocol: the claim under test is that
    // PEAK-STAGE BYTES PER PARTITION stays ~flat — executor memory pressure is
    // set by the slice, not the corpus, which is how a 1000-executor job sizes.
    val results30 = {
      val x30 = synth("x30", 3 * copies)
      Seq("tpch_q18", "tpch_q21").map { name =>
        val (t10, r10, s10, p10) = timed(name, x10)
        spark.conf.set("spark.sql.shuffle.partitions", "96")
        val (t30, r30, s30, p30) =
          try timed(name, x30)
          finally spark.conf.set("spark.sql.shuffle.partitions", "32")
        val row = Map(
          "query" -> s"$name[10x/32p -> 30x/96p]",
          "t1_sec" -> f"$t10%.2f", "t10_sec" -> f"$t30%.2f",
          "wall_factor" -> f"${t30 / t10}%.1f",
          "rows1" -> r10.toString, "rows10" -> r30.toString,
          "shuffle1_mb" -> mb(s10), "shuffle10_mb" -> mb(s30),
          "peak_stage1_mb" -> mb(p10), "peak_stage10_mb" -> mb(p30),
          "peak_per_part1_mb" -> mb(p10 / 32), "peak_per_part10_mb" -> mb(p30 / 96),
          "shuffle_factor" -> (if (s10 > 0) f"${s30.toDouble / s10}%.1f" else "-"),
          "join_mix1" -> "-", "join_mix10" -> "-")
        println(s"[semscale] ${row("query")} 10x=${row("t1_sec")}s " +
          s"30x=${row("t10_sec")}s factor=${row("wall_factor")} " +
          s"rows ${r10}->${r30} peak/part ${row("peak_per_part1_mb")}->" +
          s"${row("peak_per_part10_mb")} MB")
        row
      }
    }

    // ---- 100× fourth decade (round-14 #5) ----------------------------------
    // The 10×→30× per-partition-flat claim PREDICTS 100× behaves; this
    // measures it once so the 1000-executor extrapolation has three decades
    // under it. Partitions scale with the data (32 → 320, the constant
    // rows-per-partition protocol); the claim is the same: peak-stage bytes
    // PER PARTITION flat, join mix stable. Gated behind an env flag — the
    // corpus write alone is ~6 GB — run once per round:
    //   SPARK_GRAFT_SCALE_100X=1 sbt "runMain graft.tools.SemanticScaleSmoke"
    val results100 = if (sys.env.get("SPARK_GRAFT_SCALE_100X").contains("1")) {
      val x100 = synth("x100", 10 * copies)
      Seq("tpch_q18", "tpch_q21").map { name =>
        val (t10, r10, s10, p10) = timed(name, x10)
        spark.conf.set("spark.sql.shuffle.partitions", "320")
        val (t100, r100, s100, p100, mix100) =
          try {
            val (t, r, s, p) = timed(name, x100)
            (t, r, s, p, joinMix(name, x100))
          } finally spark.conf.set("spark.sql.shuffle.partitions", "32")
        val row = Map(
          "query" -> s"$name[10x/32p -> 100x/320p]",
          "t1_sec" -> f"$t10%.2f", "t10_sec" -> f"$t100%.2f",
          "wall_factor" -> f"${t100 / t10}%.1f",
          "rows1" -> r10.toString, "rows10" -> r100.toString,
          "shuffle1_mb" -> mb(s10), "shuffle10_mb" -> mb(s100),
          "peak_stage1_mb" -> mb(p10), "peak_stage10_mb" -> mb(p100),
          "peak_per_part1_mb" -> mb(p10 / 32), "peak_per_part10_mb" -> mb(p100 / 320),
          "shuffle_factor" -> (if (s10 > 0) f"${s100.toDouble / s10}%.1f" else "-"),
          "join_mix1" -> "-", "join_mix10" -> mix100)
        println(s"[semscale] ${row("query")} 10x=${row("t1_sec")}s " +
          s"100x=${row("t10_sec")}s factor=${row("wall_factor")} " +
          s"rows ${r10}->${r100} shuffle ${row("shuffle1_mb")}->" +
          s"${row("shuffle10_mb")} MB peak/part ${row("peak_per_part1_mb")}->" +
          s"${row("peak_per_part10_mb")} MB joins@100x ${mix100}")
        row
      }
    } else Nil

    SmokeMeter.writeRows("semantic_scale_smoke.json", s""""sf":"$sfDir","copies":$copies""",
      results ++ results30 ++ results100)

    graft.util.Fs.deleteTree(work)
    spark.stop()
  }
}
