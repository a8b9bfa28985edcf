package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** One-pass data profiling — the table-stats utility every warehouse engine ships
  * (the reference's closest analogues are its validation probes and metadata
  * routes; this is the Spark-native generalization).
  *
  * Emits one row per profiled column: row count, null count, distinct count,
  * min/max (rendered to strings so heterogeneous columns share a schema), and for
  * numeric columns an exact mean computed over `decimal(38,6)` sums (float sums
  * drift across partition orders; decimal aggregation is associative and exact, the
  * same rule the oracle-checked money arithmetic follows).
  *
  * Scale shape: with the default HyperLogLog++ estimate, ONE aggregation pass over
  * the scan for any number of columns — partial aggregates combine map-side, the
  * shuffle carries one buffer per column, and the output is k rows regardless of
  * input size. `exactDistinct = true` instead runs, PER column (unioned): a
  * map-combinable stats aggregate (counts/min/max/mean — partials combine to one
  * row per partition) crossed with a value-only `count(DISTINCT c)` aggregate
  * whose partial-by-value exchange carries bare 8-byte-ish values, no buffers.
  * The k-column one-pass `count(DISTINCT …)` form it replaces planned through an
  * Expand that replicated every input row k+1 times into a multi-key
  * SortAggregate — q28 measured 8.2 s warm at sf0.1 (single-split scan → one
  * task sorting 3M rows) and, at a 10x corpus, 103 MB shuffled vs the split
  * shape's 70 MB with a 2.5x smaller peak stage (OPTIMIZATION_r16.md §8). Each
  * column is scanned twice (stats + distinct), but columnar pruning keeps that
  * to the column's own bytes — the exchange, not the scan, is what dies at
  * 100 TB (guide §2.3). Because `exactDistinct` reads `df` in two subtrees, it
  * assumes a stable batch source: on a non-deterministic or changing source the
  * row/null counts and the distinct count can come from different snapshots,
  * so persist `df` first when it is not a file scan.
  */
object Profiler {

  def profile(
      df: DataFrame, cols: Seq[String], exactDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val schema = df.schema
    // decimal sum (exact, order-independent) converted to double BEFORE the
    // division: decimal-division scale rules differ between engines, double
    // division does not
    def meanOf(c: String): Column =
      if (schema(c).dataType.isInstanceOf[NumericType])
        sum(col(c).cast("decimal(38,6)")).cast("double") / count(col(c))
      else lit(null).cast("double")
    if (exactDistinct) {
      cols.map { c =>
        val stats = df.agg(
          count(lit(1)).alias("n_rows"),
          count(lit(1)).minus(count(col(c))).alias("n_nulls"),
          min(col(c)).cast("string").alias("min_value"),
          max(col(c)).cast("string").alias("max_value"),
          meanOf(c).alias("mean_value"))
        val nd = df.agg(countDistinct(col(c)).alias("n_distinct"))
        stats.crossJoin(nd)
          .select(lit(c).alias("column"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"),
            col("mean_value"))
      }.reduce(_.union(_))
    } else {
      val aggs = cols.flatMap { c =>
        Seq(
          count(lit(1)).alias(s"__n_$c"),
          count(lit(1)).minus(count(col(c))).alias(s"__nulls_$c"),
          approx_count_distinct(col(c)).alias(s"__nd_$c"),
          min(col(c)).cast("string").alias(s"__min_$c"),
          max(col(c)).cast("string").alias(s"__max_$c"),
          meanOf(c).alias(s"__mean_$c"))
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
  }

  /** Equi-width histogram of a numeric column: `buckets` bins over [lo, hi), values
    * outside clamping to the edge bins. The bin formula is explicit double
    * arithmetic (`floor((x − lo) / w) + 1` with the width precomputed on the
    * driver) rather than `width_bucket`, whose internal evaluation order varies by
    * engine — this exact expression is replicable anywhere. One groupBy over bin
    * ids — the shuffle carries (bin, count) pairs only.
    */
  def histogram(
      df: DataFrame, c: String, lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(buckets >= 1 && hi > lo, "histogram needs buckets >= 1 and hi > lo")
    val w = (hi - lo) / buckets
    val bin = least(greatest(
      floor((col(c).cast("double") - lit(lo)) / lit(w)) + 1L,
      lit(1L)), lit(buckets.toLong))
    df.filter(col(c).isNotNull)
      .groupBy(bin.alias("bucket"))
      .agg(count(lit(1)).alias("n"))
  }
}
