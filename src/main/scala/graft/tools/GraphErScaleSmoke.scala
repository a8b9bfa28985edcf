package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** 10× decade for the round-13 families: integer PageRank (g1) and blocked
  * fuzzy entity resolution (er1/er2), at FIXED 32 partitions — the same
  * held-bound format as ScaleSmoke (wall factor, output rows, total/peak-stage
  * shuffle bytes). Results land in `graph_er_scale_smoke.json`.
  *
  * Corpus synthesis grows the DATA PROPERTIES the operators key on:
  *   - events ×10 with per-copy user_id shifts AND salted event_type — groups
  *     stay copy-local, so the interaction graph gains 10× nodes, 10× stars,
  *     10× edges (disjoint components, the honest "bigger graph" shape).
  *   - documents ×10 with the ScaleSmoke word-salt — entity names stay
  *     distinct across copies, so token blocks multiply in COUNT while block
  *     SIZE stays set by the fixture's duplication rate (the property the
  *     blocking design rests on).
  *   - an ER SKEW probe plants a shared "inc" token on every 3rd name of the
  *     10× corpus: one corpus-sized block that the maxBlock cap must drop for
  *     the quadratic bound to hold.
  */
object GraphErScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    // partition count scales WITH the decade (32 at 10×, 96 at 30× — the
    // dedup-decade protocol), so the claim under test is per-PARTITION
    // flatness, the quantity that decides executor memory on a real cluster
    val parts = sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTITIONS", "32").toInt
    val spark = graft.SparkProfile.session("graft-gescalesmoke")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val meter = SmokeMeter.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft_gescale_").toString

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    def evCopy(k: Int): DataFrame =
      if (k == 0) ev
      else ev.withColumn("user_id", col("user_id") + k * 1000000L)
        .withColumn("event_id", col("event_id") + k * 10000000L)
        .withColumn("event_type", concat(col("event_type"), lit("_x" + k)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def docCopy(k: Int): DataFrame =
      if (k == 0) docs
      else docs.select((col("doc_id") + k * 900000L).alias("doc_id"),
        regexp_replace(lower(col("text")), "([a-z0-9一-鿿]+)", "$1xx" + k)
          .alias("text"))

    def write(name: String, file: String, df: DataFrame): String = {
      val dir = s"$work/$name"
      df.repartition(parts).write.parquet(s"$dir/$file")
      dir
    }
    val ev1 = write("ev1", "events.parquet", evCopy(0))
    val ev10 = write("ev10", "events.parquet",
      (0 until copies).map(evCopy).reduce(_ union _))
    val doc1 = write("doc1", "documents.parquet", docCopy(0))
    val x10 = (0 until copies).map(docCopy).reduce(_ union _)
    val doc10 = write("doc10", "documents.parquet", x10)
    // skew: every 3rd doc's text gains a leading shared token, which lands in
    // the name's 6-word prefix and forms ONE corpus-sized block
    val skew10 = write("skew10", "documents.parquet",
      x10.withColumn("text", when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("inc "), col("text"))).otherwise(col("text"))))

    def runQ(name: String, dir: String): (Double, Long, Long, Long) =
      meter.best(runs)(SparkEntry.queries(name)(spark, dir).count())
    def mb(b: Long): String = f"${b / 1e6}%.1f"

    val probes = Seq(
      ("g1_pagerank", ev1, ev10),
      ("er1_fuzzy_pairs", doc1, doc10),
      ("er2_entity_canonical", doc1, doc10),
      ("er1_fuzzy_pairs[skew10: planted hot token]", doc10, skew10))
    // warm codegen/JIT before any timed run: ONE untimed execution per family
    // (the timed loop below re-runs; a full runQ here would double the 1x cost)
    probes.take(3).foreach { case (n, d1, _) =>
      SparkEntry.queries(n)(spark, d1).count()
    }

    val results = probes.map { case (label, d1, d10) =>
      val name = label.takeWhile(_ != '[')
      val (t1, r1, s1, p1) = runQ(name, d1)
      val (t10, r10, s10, p10) = runQ(name, d10)
      val row = Map(
        "query" -> label, "t1_sec" -> f"$t1%.2f", "t10_sec" -> f"$t10%.2f",
        "wall_factor" -> f"${t10 / t1}%.1f",
        "rows1" -> r1.toString, "rows10" -> r10.toString,
        "shuffle1_mb" -> mb(s1), "shuffle10_mb" -> mb(s10),
        "peak_stage1_mb" -> mb(p1), "peak_stage10_mb" -> mb(p10),
        "shuffle_factor" -> (if (s1 > 0) f"${s10.toDouble / s1}%.1f" else "-"))
      println(s"[scale] $label 1x=${row("t1_sec")}s 10x=${row("t10_sec")}s " +
        s"factor=${row("wall_factor")} rows $r1->$r10 " +
        s"shuffle ${row("shuffle1_mb")}->${row("shuffle10_mb")} MB " +
        s"peak ${row("peak_stage1_mb")}->${row("peak_stage10_mb")} MB")
      row
    }

    // ---- bucketed-edge probe (round-14 stretch): rankLoop's scaladoc
    // prescribes bucket-by-src edges on clusters so per-iteration shuffles
    // move only rank rows. Measure it: pageRank over the 10× interaction
    // graph, flat parquet vs GraphOps.bucketEdges, with broadcast disabled —
    // at 100 TB the rank side (one row per node) outgrows any broadcast
    // threshold, and THAT regime is where the edge-side exchange per
    // iteration is the bill. Same iterations, same data; the delta is the
    // edge list not moving.
    val bucketRows = {
      import graft.operators.GraphOps
      val b = graft.queries.Relational.normalizeEventTs(
        spark.read.parquet(s"$ev10/events.parquet"))
        .select(col("user_id"), col("event_type"),
          date_trunc("hour", expr("timestamp_micros(ts div 1000)")).alias("h"))
      val hub = b.groupBy("event_type", "h").agg(min("user_id").alias("hub"))
      val edges = b.join(hub, Seq("event_type", "h"))
        .filter(col("user_id") =!= col("hub"))
        .select(col("user_id").alias("src"), col("hub").alias("dst")).distinct()
      edges.write.parquet(s"$work/edges_flat")
      val flat = spark.read.parquet(s"$work/edges_flat")
      val bucketed = GraphOps.bucketEdges(flat, parts,
        table = "graft_smoke_edges", path = Some(s"$work/edges_bucketed"))
      def probe(label: String, e: DataFrame): Map[String, String] = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try {
          // one extra first pass warms the plan and still competes for best
          val (best, rows, shuffle, _) =
            meter.best(runs + 1)(GraphOps.pageRank(e, iterations = 4).count())
          Map("query" -> s"g1_rankloop_10x[$label]", "t10_sec" -> f"$best%.2f",
            "rows10" -> rows.toString, "shuffle10_mb" -> mb(shuffle))
        } finally {
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        }
      }
      val f = probe("flat_edges", flat)
      val bk = probe("bucketed_by_src", bucketed)
      val dropPct =
        100.0 * (1 - bk("shuffle10_mb").toDouble / f("shuffle10_mb").toDouble)
      println(s"[scale] bucketEdges probe 10x (broadcast off, 4 iters): " +
        s"flat ${f("shuffle10_mb")} MB / ${f("t10_sec")}s -> bucketed " +
        s"${bk("shuffle10_mb")} MB / ${bk("t10_sec")}s " +
        f"(iteration shuffle -$dropPct%.0f%%)")
      spark.sql("DROP TABLE IF EXISTS `graft_smoke_edges`")
      Seq(f, bk)
    }

    val outName = if (copies == 10) "graph_er_scale_smoke.json"
      else s"graph_er_scale_smoke_${copies}x.json"
    SmokeMeter.writeRows(outName,
      s""""sf":"$sfDir","copies":$copies,"partitions":$parts""", results ++ bucketRows)
    graft.util.Fs.deleteTree(work)
    spark.stop()
  }
}
