package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EntityResolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val recs = Seq(
    (1L, "acme steel works"),
    (2L, "acme steel workz"),     // dist 1 from 1 — match
    (3L, "acme stele works"),     // dist 2 from 1 — match (token mode)
    (4L, "acme plastics"),        // shares "acme" block, dist >> 2 — no match
    (5L, "zenith glass co"),
    (6L, "zenith glass c"),       // dist 1 from 5 — match
    (7L, "unrelated name here")
  ).toDF("id", "name")

  test("token blocking: planted typos match; far names sharing a block do not") {
    val pairs = EntityResolution.blockedFuzzyPairs(recs, "name", "id",
        maxDist = 2, blocking = "token")
      .select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 1)))
    assert(pairs.contains((1L, 3L, 2)))
    assert(pairs.contains((5L, 6L, 1)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("a pair sharing several block keys is emitted once") {
    val pairs = EntityResolution.blockedFuzzyPairs(recs, "name", "id",
        maxDist = 2, blocking = "token")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // (1,2) share tokens "acme" and "steel" — still one row
    assert(pairs.count(_ == (1L, 2L)) === 1)
  }

  test("block cap drops ultra-frequent keys but keeps rare-key blocks") {
    // all four share "inc"; (3,4) are within dist 3 but share ONLY "inc", while
    // (1,2) also share the rare "mills". Capping kills the inc block, so (3,4)
    // never meets; (1,2) still matches through mills.
    val noisy = Seq(
      (1L, "acme mills inc"), (2L, "acmee mills inc"),
      (3L, "zen inc"), (4L, "zex inc")
    ).toDF("id", "name")
    val uncapped = EntityResolution.blockedFuzzyPairs(noisy, "name", "id",
        maxDist = 3, maxBlock = 1000, blocking = "token")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L), (3L, 4L)))
    val capped = EntityResolution.blockedFuzzyPairs(noisy, "name", "id",
        maxDist = 3, maxBlock = 3, blocking = "token")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
  }

  test("block cap boundary: exactly maxBlock records are verified, one more drops the block") {
    // every name is "blk <code>", a code spelling 4 digits as letter triples, so
    // "blk" is the only blocking key two records share; the planted records
    // append a letter to a base code (distance 1 from it)
    val maxBlock = 2000
    def code(i: Int) = f"$i%04d".map(d => s"${('a' + (d - '0')).toChar}" * 3).mkString
    val planted = (0 until 5).map(k => (100000L + k, s"blk ${code(k * 101)}z"))
    val atCap = (0 until maxBlock - planted.size).map(i => (i.toLong, s"blk ${code(i)}")) ++
      planted
    val want = (0 until 5).map(k => (k * 101L, 100000L + k)).toSet

    def lev(a: String, b: String): Int = {
      var prev = Array.range(0, b.length + 1)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val close = for {
      i <- atCap.indices
      j <- (i + 1) until atCap.size
      if lev(atCap(i)._2, atCap(j)._2) <= 2
    } yield (atCap(i)._1, atCap(j)._1)
    assert(close.toSet === want, "fixture: the planted pairs are the only close ones")

    def pairs(rs: Seq[(Long, String)]) =
      EntityResolution.blockedFuzzyPairs(rs.toDF("id", "name"), "name", "id",
          maxDist = 2, maxBlock = maxBlock, blocking = "token")
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(atCap) === want)
    assert(pairs(atCap :+ ((999999L, s"blk ${code(9999)}"))) === Set.empty[(Long, Long)])
  }

  test("bigram blocking: recall contract = one intact adjacent bigram") {
    val b = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delt"),   // last-word typo: 2 intact bigrams — match
      (3L, "alpha betax gamma delta"), // 2nd-word typo: "gamma delta" intact — match
      (4L, "acme stele works"),        // middle-word typo of 5 (3-word name):
      (5L, "acme steel works"),        //   NO intact bigram — the DOCUMENTED miss
      (6L, "solo"),
      (7L, "solox")                    // singleton names, dist 1, but different
                                       //   fallback keys — also a documented miss
    ).toDF("id", "name")
    val pairs = EntityResolution.blockedFuzzyPairs(b, "name", "id",
        maxDist = 2, blocking = "bigram")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((4L, 5L))) // recall miss, pinned (d9-style assumption)
    assert(!pairs.contains((6L, 7L)))
  }

  test("bigram blocking: singleton-name fallback still matches exact twins") {
    val b = Seq((1L, "solo"), (2L, "solo"), (3L, "other")).toDF("id", "name")
    val pairs = EntityResolution.blockedFuzzyPairs(b, "name", "id",
        maxDist = 2, blocking = "bigram")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("unknown blocking mode is rejected") {
    intercept[IllegalArgumentException] {
      EntityResolution.blockedFuzzyPairs(recs, "name", "id", blocking = "soundex")
    }
  }

  test("two-table linkage: dirty records link to catalog matches only") {
    val catalog = Seq(
      (1L, "acme steel works"), (2L, "zenith glass co"), (3L, "apex tools ltd")
    ).toDF("id", "name")
    val dirty = Seq(
      (101L, "acme steel workz"),     // dist 1 from catalog 1
      (102L, "zenith glas co"),       // dist 1 from catalog 2
      (103L, "nomatch entirely other")
    ).toDF("id", "name")
    val links = EntityResolution.blockedFuzzyJoin(dirty, catalog, "name", "id",
        maxDist = 2, blocking = "token")
      .select("left_id", "right_id", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(links === Set((101L, 1L, 1), (102L, 2L, 1)))
  }

  test("two-table linkage: the block cap counts COMBINED side frequency") {
    // "inc" appears twice per side (4 combined); cap 3 kills it even though
    // neither side alone exceeds the cap — the block product is what explodes
    val catalog = Seq((1L, "zen inc"), (2L, "apex inc")).toDF("id", "name")
    val dirty = Seq((101L, "zed inc"), (102L, "apet inc")).toDF("id", "name")
    val uncapped = EntityResolution.blockedFuzzyJoin(dirty, catalog, "name", "id",
        maxDist = 2, maxBlock = 1000, blocking = "token")
      .select("left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((101L, 1L), (102L, 2L)))
    val capped = EntityResolution.blockedFuzzyJoin(dirty, catalog, "name", "id",
        maxDist = 2, maxBlock = 3, blocking = "token")
      .select("left_id", "right_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set.empty[(Long, Long)])
  }

  test("incremental link: matches adopt catalog ids; unmatched merge then mint new entities") {
    val catalog = Seq((1L, "acme steel works"), (2L, "zenith glass co")).toDF("id", "name")
    val batch = Seq(
      (101L, "acme steel workz"),     // dist 1 from catalog 1
      (102L, "totally new thing"),    // new entity...
      (103L, "totally new thingz"),   // ...same entity, same batch — must NOT mint twice
      (104L, "isolated other record") // new singleton entity
    ).toDF("id", "name")
    val (assigned, cat2) = EntityResolution.incrementalLink(batch, catalog,
      "name", "id", maxDist = 2, blocking = "token")
    val a = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === Map(101L -> 1L, 102L -> 102L, 103L -> 102L, 104L -> 104L))
    // catalog grows by exactly the new canonical representatives
    val c = cat2.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c === Set((1L, "acme steel works"), (2L, "zenith glass co"),
      (102L, "totally new thing"), (104L, "isolated other record")))
  }

  test("incremental link: reliable = true snaps through a checkpoint dir, same output") {
    // r16 verdict #7: the links/fresh snaps gain the rankLoop escape hatch.
    // Before any dir is set (setCheckpointDir is one-way) the reliable path
    // must fail fast, not die mid-pipeline on the first checkpoint().
    val catalog = Seq((1L, "acme steel works")).toDF("id", "name")
    val batch = Seq((101L, "acme steel workz"), (102L, "brand new co")).toDF("id", "name")
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        EntityResolution.incrementalLink(batch, catalog, "name", "id",
          maxDist = 2, blocking = "token", reliable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-er-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val (assigned, _) = EntityResolution.incrementalLink(batch, catalog,
        "name", "id", maxDist = 2, blocking = "token", reliable = true)
      val a = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === Map(101L -> 1L, 102L -> 102L))
      val written = dir.toFile.listFiles
      assert(written != null && written.nonEmpty)
    } finally graft.util.Fs.deleteTree(dir.toString)
  }

  test("incremental link: transitivity closes among UNMATCHED only (documented miss)") {
    // A matches the catalog; B is within maxDist of A but NOT of any catalog
    // row. The documented semantics (incrementalLink scaladoc): B is unmatched,
    // resolves among the unmatched set alone, and mints a NEW entity — it does
    // NOT ride A's link into the catalog. Pinned like the bigram recall miss:
    // the oracle replays the same rule, so only this test falsifies a drift.
    val catalog = Seq((1L, "acme steel works")).toDF("id", "name")
    val batch = Seq(
      (101L, "acme steel worksz"),  // dist 1 from catalog 1 — matches
      (102L, "acme steel workszz")  // dist 1 from 101, dist 2 from catalog
    ).toDF("id", "name")
    val (assigned, cat2) = EntityResolution.incrementalLink(batch, catalog,
      "name", "id", maxDist = 1, blocking = "token")
    val a = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === Map(101L -> 1L, 102L -> 102L),
      "same-batch record within maxDist of a MATCHED sibling must still mint " +
        "its own entity when it misses the catalog directly")
    assert(cat2.collect().map(_.getLong(0)).toSet === Set(1L, 102L))
  }

  test("incremental link: best match wins — lowest distance, ties to lowest catalog id") {
    val catalog = Seq(
      (1L, "acme x"), (2L, "acme y"), (3L, "acme steelx"), (4L, "acme steelw")
    ).toDF("id", "name")
    val (best, _) = EntityResolution.incrementalLink(
      Seq((101L, "acme steelw")).toDF("id", "name"), catalog,
      "name", "id", maxDist = 2, blocking = "token")
    // 3 matches at dist 1 with the lower id, 4 at dist 0 — distance beats id
    assert(best.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(101L -> 4L))
    val (tie, _) = EntityResolution.incrementalLink(
      Seq((201L, "acme z")).toDF("id", "name"), catalog,
      "name", "id", maxDist = 2, blocking = "token")
    // dist 1 to both 1 and 2 — the lower catalog id wins
    assert(tie.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(201L -> 1L))
  }

  test("canonical entities: transitive closure labels chains, singletons keep themselves") {
    val ents = EntityResolution.canonicalEntities(recs, "name", "id",
        maxDist = 2, blocking = "token")
      .select("id", "entity_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1~2, 1~3 (and 2~3 only transitively) → all canonical 1
    assert(ents(1L) === 1L && ents(2L) === 1L && ents(3L) === 1L)
    assert(ents(5L) === 5L && ents(6L) === 5L)
    assert(ents(4L) === 4L) // singleton
    assert(ents(7L) === 7L)
  }
}
