package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** A/B the two exact-distinct profiling shapes at scale (the q28 adjudication
  * probe, mirroring Q21Shapes' discipline: shape changes are settled with a
  * scale measurement, not a local one).
  *
  *   - OLD: the one-pass k-column `count(DISTINCT …)` aggregate — Catalyst
  *     lowers multi-distinct through an Expand that replicates every input row
  *     k+1 times before the shuffle, then sort-aggregates the replicas.
  *   - NEW: `Profiler.profile(exactDistinct = true)` — one single-distinct
  *     aggregation per column, unioned; no Expand, each branch's scan prunes
  *     to its own column.
  *
  * Corpus: `copies` key-shifted replicas of sf0.1's lineitem (the
  * SemanticScaleSmoke stride recipe), written to parquet so both shapes scan
  * the same files. Reported per (shape, scale): wall seconds per run, total +
  * peak-stage shuffle bytes, and a collected-row equality check between the
  * two shapes.
  *
  * Run: `sbt "runMain graft.tools.ProfileShapes"` (env:
  * SPARK_GRAFT_SCALE_COPIES=10, SPARK_GRAFT_SCALE_RUNS=2).
  */
object ProfileShapes {

  /** The pre-r16-continuation Profiler.profile(exactDistinct = true) body,
    * kept verbatim as the A side of the probe.
    */
  private def oldShape(df: DataFrame, cols: Seq[String]): DataFrame = {
    val schema = df.schema
    val aggs = cols.flatMap { c =>
      val isNum = schema(c).dataType.isInstanceOf[NumericType]
      val mean =
        if (isNum)
          sum(col(c).cast("decimal(38,6)")).cast("double") / count(col(c))
        else lit(null).cast("double")
      Seq(
        count(lit(1)).alias(s"__n_$c"),
        count(lit(1)).minus(count(col(c))).alias(s"__nulls_$c"),
        countDistinct(col(c)).alias(s"__nd_$c"),
        min(col(c)).cast("string").alias(s"__min_$c"),
        max(col(c)).cast("string").alias(s"__max_$c"),
        mean.alias(s"__mean_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(
        lit(c).alias("column"),
        col(s"__n_$c").alias("n_rows"),
        col(s"__nulls_$c").alias("n_nulls"),
        col(s"__nd_$c").alias("n_distinct"),
        col(s"__min_$c").alias("min_value"),
        col(s"__max_$c").alias("max_value"),
        col(s"__mean_$c").alias("mean_value"))
    }
    one.select(explode(array(stacked: _*)).alias("p")).select("p.*")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = graft.SparkProfile.session("graft-profileshapes")
    val meter = new SmokeMeter
    spark.sparkContext.addSparkListener(meter)

    val work = java.nio.file.Files.createTempDirectory("graft_profshape_").toString
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val scaled = (0 until copies).map { k =>
      base.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * 10000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
    }.reduce(_.unionByName(_))
    // 32 files so the scan parallelizes the same way for both shapes
    scaled.repartition(32).write.mode("overwrite").parquet(s"$work/lineitem")
    val li = spark.read.parquet(s"$work/lineitem")
    println(s"[profshape] corpus rows=${li.count()} copies=$copies")

    val cols = Seq("l_quantity", "l_extendedprice", "l_orderkey", "l_returnflag")
    def run(label: String, mk: () => DataFrame): Unit = {
      (1 to runs).foreach { i =>
        meter.reset()
        spark.sparkContext.setJobDescription(s"profshape:$label:$i")
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profshape] $label run$i: ${dt}%.2f s  shuffle=${meter.total.get / 1e6}%.1f MB  peak-stage=${meter.peak.get / 1e6}%.1f MB")
      }
    }
    // shape C: per column, a map-combinable stats aggregate (32-row shuffle)
    // crossed with a value-only distinct count (8-byte rows, no buffers riding
    // the partial-by-value shuffle) — trades a second scan of the same column
    // for the narrowest possible exchange
    def splitShape(df: DataFrame, cols2: Seq[String]): DataFrame = {
      val schema = df.schema
      cols2.map { c =>
        val isNum = schema(c).dataType.isInstanceOf[NumericType]
        val mean =
          if (isNum) sum(col(c).cast("decimal(38,6)")).cast("double") / count(col(c))
          else lit(null).cast("double")
        val stats = df.agg(
          count(lit(1)).alias("n_rows"),
          count(lit(1)).minus(count(col(c))).alias("n_nulls"),
          min(col(c)).cast("string").alias("min_value"),
          max(col(c)).cast("string").alias("max_value"),
          mean.alias("mean_value"))
        val nd = df.agg(countDistinct(col(c)).alias("n_distinct"))
        stats.crossJoin(nd)
          .select(lit(c).alias("column"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"),
            col("mean_value"))
      }.reduce(_.union(_))
    }

    run("old_expand", () => oldShape(li, cols).orderBy("column"))
    run("new_percol", () =>
      graft.operators.Profiler.profile(li, cols, exactDistinct = true)
        .orderBy("column"))
    run("split_stats_nd", () => splitShape(li, cols).orderBy("column"))

    val a = oldShape(li, cols).orderBy("column").collect().map(_.toString)
    val b = graft.operators.Profiler.profile(li, cols, exactDistinct = true)
      .orderBy("column").collect().map(_.toString)
    println(s"[profshape] rows equal: ${a.sameElements(b)}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    spark.stop()
  }
}
