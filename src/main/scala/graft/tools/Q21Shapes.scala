package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.queries.TpcH

/** A/B scale probe for the two tpch_q21 shapes (r15 "not yet optimized" #1,
  * r16 verdict ask #3): the local corpus prefers the broadcast semi/anti
  * EXISTS form, but at 10×/30× the EXISTS/NOT-EXISTS double self-join of
  * lineitem may lose to the per-order distinct-supplier-count rewrite (one
  * lineitem⋈orders pass + one grouped aggregate instead of three lineitem
  * roles). Both shapes are timed end-to-end through the SEMANTIC path
  * (deployOnDir + session.query — the exact driver-entry surface) on the
  * SemanticScaleSmoke synthetic corpus (fact copies key-shifted so per-entity
  * join fan-out is scale-invariant; dimensions fixed), with the noop sink as
  * the timed action (bench methodology since r16) and the SmokeMeter's
  * stage-level shuffle bytes + the post-AQE join mix as plan evidence.
  *
  * Equivalence of the rewrite (oracle-checked before any adoption): for a
  * late l1 row, NOT EXISTS(other supplier late in the order) ⟺ the order's
  * distinct LATE supplier set is exactly {l1.l_suppkey} ⟺ nlate = 1, and
  * EXISTS(other supplier) ⟺ nsupp >= 2; the l2/l3 subqueries range over the
  * same order's lineitems whose order is necessarily the F-status order l1
  * joined, so pre-filtering the per-order aggregate to F-orders drops no
  * group l1 can see.
  *
  * Run: `sbt "runMain graft.tools.Q21Shapes"`; env knobs
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_SCALE_RUNS (default 3).
  */
object Q21Shapes {

  /** The EXISTS + NOT-EXISTS shape q21 carried through r15 — kept as a
    * literal so the A/B stays re-runnable after the r16 adoption of the
    * rewrite into `TpcH.defs` (the "current" side below reads the live text,
    * which since r16 IS the rewrite; this literal is the old contender).
    */
  val existsSql: String =
    s"""SELECT s_name, count(*) AS numwait
       |FROM supplier, lineitem l1, orders, nation
       |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
       |  AND o_orderstatus = 'F'
       |  AND cast(l1.l_shipdate as date) >
       |      cast(cast(o_orderdate as date) + interval '60' day as date)
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |      AND cast(l3.l_shipdate as date) >
       |          cast(cast(o_orderdate as date) + interval '60' day as date))
       |  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  /** The rewrite measured by this probe (2026-08-18: won 2.1× at 10×, 2.7× at
    * 30×, identical row hashes at all scales) and ADOPTED as the declared q21
    * in r16 — in the TWO-LEVEL aggregate spelling (dedupe per (order,
    * supplier), then plain count/sum): same result set as the multi-distinct
    * form first probed, but no Expand row doubling and a deterministic
    * unparse (Spark's multi-distinct rewrite orders Expand projections by
    * expression id, which drifts across sessions and broke the golden pin).
    * Kept in sync with `TpcH.defs("tpch_q21")`.
    */
  val rewriteSql: String =
    s"""WITH lo AS (
       |  SELECT l_orderkey, l_suppkey,
       |    CASE WHEN cast(l_shipdate as date) >
       |        cast(cast(o_orderdate as date) + interval '60' day as date)
       |      THEN 1 ELSE 0 END AS is_late
       |  FROM lineitem, orders
       |  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'),
       |agg AS (
       |  SELECT l_orderkey, count(*) AS nsupp, sum(sup_late) AS nlate
       |  FROM (
       |    SELECT l_orderkey, l_suppkey, max(is_late) AS sup_late
       |    FROM lo GROUP BY l_orderkey, l_suppkey) per_supp
       |  GROUP BY l_orderkey)
       |SELECT s_name, count(*) AS numwait
       |FROM lo l1, agg, supplier, nation
       |WHERE agg.l_orderkey = l1.l_orderkey AND l1.is_late = 1
       |  AND agg.nsupp >= 2 AND agg.nlate = 1
       |  AND s_suppkey = l1.l_suppkey
       |  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val spark = graft.SparkProfile.session("graft-q21shapes")
    val meter = new SmokeMeter
    spark.sparkContext.addSparkListener(meter)

    val work = java.nio.file.Files.createTempDirectory("graft_q21_").toString
    // identical corpus synthesis to SemanticScaleSmoke: copy k shifts entity
    // keys by k·10⁷ and order keys by k·10⁸ so relationships join within-copy
    val keyShift: Map[String, Long] = Map(
      "c_custkey" -> 10000000L, "o_custkey" -> 10000000L,
      "s_suppkey" -> 10000000L, "l_suppkey" -> 10000000L,
      "p_partkey" -> 10000000L, "l_partkey" -> 10000000L,
      "o_orderkey" -> 100000000L, "l_orderkey" -> 100000000L)
    val facts = Seq("customer", "supplier", "part", "orders", "lineitem")
    def synth(tag: String, n: Int): String = {
      val dir = s"$work/$tag"
      facts.foreach { t =>
        val base = spark.read.parquet(s"$sfDir/$t.parquet")
        def copy(k: Int): DataFrame =
          if (k == 0) base
          else base.columns.foldLeft(base) { (df, c) =>
            keyShift.get(c).fold(df)(stride => df.withColumn(c, col(c) + k * stride))
          }
        (0 until n).map(copy).reduce(_ union _)
          .repartition(32).write.parquet(s"$dir/$t.parquet")
      }
      Seq("nation", "region").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .repartition(1).write.parquet(s"$dir/$t.parquet")
      }
      dir
    }

    val currentSql = existsSql // the r15 shape; TpcH.oracles("tpch_q21") is the rewrite since r16
    def query(sql: String, dir: String): DataFrame =
      GraftEngine.deployOnDir(spark, TpcH.manifest, dir).query(sql)

    def timed(label: String, sql: String, dir: String, parts: Int): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.sparkContext.setJobDescription(label)
      try {
        // correctness cross-check: both shapes must return identical rows
        val rows = query(sql, dir).collect().map(_.toString).toSeq
        val walls = (0 until runs).map { _ =>
          spark.catalog.clearCache()
          meter.reset()
          val t0 = System.nanoTime()
          query(sql, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val df = query(sql, dir)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        def n(op: String) = op.r.findAllIn(plan).size
        println(f"[q21] $label%-28s median=${walls(walls.size / 2)}%6.2f s " +
          f"best=${walls.head}%6.2f s shuffle=${meter.total.get / 1e6}%8.1f MB " +
          f"peak=${meter.peak.get / 1e6}%7.1f MB rows=${rows.size}%4d " +
          s"mix=${n("BroadcastHashJoin")}bhj/${n("SortMergeJoin")}smj/" +
          s"${n("ShuffledHashJoin")}shj hash=${rows.sorted.hashCode}")
      } finally spark.sparkContext.setJobDescription(null)
    }

    val x1 = synth("x1", 1)
    Seq(("exists@1x", currentSql), ("rewrite@1x", rewriteSql))
      .foreach { case (l, s) => timed(l, s, x1, 32) }
    val x10 = synth("x10", 10)
    Seq(("exists@10x", currentSql), ("rewrite@10x", rewriteSql))
      .foreach { case (l, s) => timed(l, s, x10, 32) }
    val x30 = synth("x30", 30)
    Seq(("exists@30x/96p", currentSql), ("rewrite@30x/96p", rewriteSql))
      .foreach { case (l, s) => timed(l, s, x30, 96) }

    graft.util.Fs.deleteTree(work)
    spark.stop()
  }
}
