package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pair step of every posting-list similarity join: posting arrays in, pairs
  * of posting elements (ids, or structs to select fields from) out as columns `a`
  * and `b`. Pairs stream out of two chained `Generate` nodes, so a row holds at
  * most one posting, O(n), never its pairs; the output is still quadratic per
  * posting, and bounding n is the caller's policy (a collect cap, a prefix).
  */
private[operators] object CandidatePairs {

  /** Every `(a, b)` with `a` before `b` in the posting array column `ps` (ordered
    * pairs when `ps` is sorted); null and one-element postings yield none.
    */
  def within(postings: DataFrame, ps: String): DataFrame =
    postings.filter(size(col(ps)) >= 2)
      .select(posexplode(col(ps)).as(Seq("__i", "a")), col(ps).alias("__ps"))
      .select(col("a"),
        explode(slice(col("__ps"), col("__i") + 2, size(col("__ps")))).alias("b"))

  /** The cross product of the posting arrays `ls` and `rs` of each row. */
  def across(postings: DataFrame, ls: String, rs: String): DataFrame =
    postings.select(explode(col(ls)).alias("a"), col(rs).alias("__rs"))
      .select(col("a"), explode(col("__rs")).alias("b"))
}
