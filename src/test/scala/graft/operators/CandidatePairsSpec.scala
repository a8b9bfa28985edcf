package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[CandidatePairs]] against brute-force enumeration: `within` is every
  * earlier-before-later position pair of each posting, `across` the per-row cross
  * product. Compared as multisets, so a lost or duplicated pair shows (the callers'
  * `distinct` would hide duplicates).
  */
class CandidatePairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Sorted postings of sizes 0, 1, 2 and up to 50 with repeated values, plus
    * null postings.
    */
  private def postings(rnd: scala.util.Random): Seq[Option[Seq[Long]]] =
    (Seq(0, 1, 2) ++ Seq.fill(12)(rnd.nextInt(51))).map(n =>
      Some(Seq.fill(n)(rnd.nextInt(40).toLong).sorted)) ++ Seq(None, None)

  test("within: every position pair of each posting, once, in order") {
    for (seed <- 1 to 5) {
      val ps = postings(new scala.util.Random(seed))
      val got = CandidatePairs.within(ps.toDF("ps"), "ps")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        p <- ps.flatten
        i <- p.indices
        j <- (i + 1) until p.size
      } yield (p(i), p(j))
      assert(got.size === want.size, s"seed $seed")
      assert(multiset(got) === multiset(want), s"seed $seed")
    }
  }

  test("across: the cross product of each row's two postings") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val ls = postings(rnd)
      val rows = ls.zip(rnd.shuffle(postings(rnd)))
      val got = CandidatePairs.across(rows.toDF("ls", "rs"), "ls", "rs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        (l, r) <- rows
        x <- l.getOrElse(Nil)
        y <- r.getOrElse(Nil)
      } yield (x, y)
      assert(got.size === want.size, s"seed $seed")
      assert(multiset(got) === multiset(want), s"seed $seed")
    }
  }
}
