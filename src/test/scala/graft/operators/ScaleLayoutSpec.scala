package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ScaleLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join returns exactly the plain join result") {
    val fact = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select(col("o_custkey").alias("k"), col("o_totalprice"))
    val dim = spark.read.parquet(s"${TestSpark.sfDir}/customer.parquet")
      .select(col("c_custkey").alias("k"), col("c_mktsegment"))
    val plain = fact.join(dim, Seq("k")).groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = ScaleLayout.saltedJoin(fact, dim, "k", saltFactor = 4)
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val lineitem = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    ScaleLayout.writeBucketed(orders, "b_orders", 4, Seq("o_orderkey"))
    ScaleLayout.writeBucketed(lineitem, "b_lineitem", 4, Seq("l_orderkey"))
    val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
      col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == lineitem.count())
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("zorder key interleaves bit planes exactly (eval and codegen agree)") {
    def ref(vals: Seq[Long], bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits; d <- vals.indices)
        z |= (((vals(d) & ((1L << bits) - 1)) >>> i) & 1L) << (i * vals.size + d)
      z
    }
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val df = rows.toDF("x", "y")
    // CODEGEN_ONLY forbids the silent interpreted fallback: if the generated
    // Java failed to compile, this query would throw instead of quietly
    // agreeing with eval.
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val out = try {
      df.select(col("x"), col("y"),
          ScaleLayout.zorderKey(df, Seq(col("x"), col("y")), bits = 16).alias("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    } finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.codegen.factoryMode", m)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    rows.foreach { case (x, y) =>
      assert(out((x, y)) == ref(Seq(x, y), 16), s"($x,$y)")
    }
    // Known fixed points: x contributes even bit positions, y odd ones.
    val small = Seq((1L, 0L), (0L, 1L), (3L, 3L)).toDF("x", "y")
    val zs = small.select(ScaleLayout.zorderKey(small, Seq(col("x"), col("y")), 4))
      .collect().map(_.getLong(0)).toSeq
    assert(zs == Seq(1L, 2L, 15L))
    // Three dimensions: stride-3 bit planes, x at 3i, y at 3i+1, z at 3i+2.
    val tri = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (7L, 7L, 7L))
      .toDF("x", "y", "w")
    val t3 = tri.select(
        ScaleLayout.zorderKey(tri, Seq(col("x"), col("y"), col("w")), 3))
      .collect().map(_.getLong(0)).toSeq
    assert(t3 == Seq(1L, 2L, 4L, 511L))
    val triRand = rows.take(64).map { case (x, y) => (x & 0xff, y & 0xff, (x ^ y) & 0xff) }
      .toDF("x", "y", "w")
    val got3 = triRand.select(col("x"), col("y"), col("w"),
        ScaleLayout.zorderKey(triRand, Seq(col("x"), col("y"), col("w")), 8).alias("z"))
      .collect()
    got3.foreach { r =>
      val vals = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      assert(r.getLong(3) == ref(vals, 8), s"3-col $vals")
    }
  }

  test("zorder layout + min/max index prunes a box query a 1-D sort cannot") {
    val events = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    val tsCol = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (col("ts") / 1000000000L).cast("long")
      case _ => unix_timestamp(col("ts").cast("timestamp"))
    }
    val base = events.select(col("user_id").cast("long").alias("u"), tsCol.alias("t"))
    val Array(uLo, uHi, tLo, tHi) = base
      .agg(min("u"), max("u"), min("t"), max("t")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val bucketed = base
      .withColumn("ub", ScaleLayout.bucketize(col("u"), uLo.toDouble, uHi.toDouble, 64))
      .withColumn("tb", ScaleLayout.bucketize(col("t"), tLo.toDouble, tHi.toDouble, 64))
    val tmp = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      // Z-order on (user-bucket, time-bucket) vs 1-D sort on time only.
      ScaleLayout.writeIndexed(
        ScaleLayout.zorderLayout(bucketed, Seq(col("ub"), col("tb")), files = 32, bits = 6),
        s"$tmp/z", Seq("ub", "tb"))
      ScaleLayout.writeIndexed(
        bucketed.repartitionByRange(32, col("tb")).sortWithinPartitions(col("tb")),
        s"$tmp/t", Seq("ub", "tb"))
      // Box: one quarter of each dimension.
      val box = Map("ub" -> (16.0, 31.0), "tb" -> (16.0, 31.0))
      val filter = col("ub").between(16, 31) && col("tb").between(16, 31)
      val expected = bucketed.filter(filter).count()
      val zPruned = ScaleLayout.readPruned(spark, s"$tmp/z", box)
      assert(zPruned.filter(filter).count() == expected, "pruned read loses rows")
      val (zKept, zTotal) = ScaleLayout.lastPruneFor(s"$tmp/z").get
      ScaleLayout.readPruned(spark, s"$tmp/t", box)
      val (tKept, tTotal) = ScaleLayout.lastPruneFor(s"$tmp/t").get
      // The time-sorted layout prunes the time range (~3/4 of files) but every
      // kept file spans all users; the z-order layout prunes BOTH dimensions.
      assert(zKept < tKept,
        s"z-order must out-prune the 1-D sort: z=$zKept/$zTotal t=$tKept/$tTotal")
      assert(zKept.toDouble / zTotal <= 0.5,
        s"box of 1/16 area should prune at least half the z-ordered files ($zKept/$zTotal)")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("appendIndexed extends the index with new-file stats only; pruning sees both eras") {
    val tmp = java.nio.file.Files.createTempDirectory("appendidx").toString
    try {
      val first = (0L until 1000L).map(i => (i, i % 10)).toDF("v", "g")
        .repartitionByRange(4, col("v"))
      ScaleLayout.writeIndexed(first, s"$tmp/t", Seq("v"))
      val idxDir = ScaleLayout.committedIndexDir(spark, s"$tmp/t").get
      val idx1 = spark.read.parquet(idxDir).collect()
        .map(r => r.getString(0)).toSet
      // Append a disjoint value range; only its files may join the index.
      val second = (5000L until 6000L).map(i => (i, i % 10)).toDF("v", "g")
        .repartitionByRange(4, col("v"))
      ScaleLayout.appendIndexed(second, s"$tmp/t", Seq("v"))
      val idx2 = spark.read.parquet(idxDir).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(idx2.length > idx1.size, "append must add index rows")
      val olds = idx2.filter(r => idx1.contains(r._1))
      assert(olds.length == idx1.size, "existing index rows must survive untouched")
      assert(olds.forall(_._3 < 1000.0) && idx2.diff(olds).forall(_._2 >= 5000.0),
        "new rows carry the appended range only")
      // A query on the old era prunes away every appended file and vice versa.
      val oldRead = ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (0.0, 999.0)))
      val po = ScaleLayout.lastPruneFor(s"$tmp/t").get
      assert(oldRead.count() == 1000L && po._1 * 2 <= po._2)
      val newRead = ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (5000.0, 5999.0)))
      val pn = ScaleLayout.lastPruneFor(s"$tmp/t").get
      assert(newRead.count() == 1000L && pn._1 * 2 <= pn._2)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("optimizeZorder restores pruning after interleaved appends; data survives exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("optz").toString
    try {
      // Four appends whose (a, b) values interleave: every file ends up spanning
      // most of both dimensions, so a box predicate prunes nothing.
      val rnd = new scala.util.Random(11)
      val batches = (0 until 4).map { _ =>
        Seq.fill(2000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
          .toDF("a", "b").repartition(4)
      }
      ScaleLayout.writeIndexed(batches.head, s"$tmp/t", Seq("a", "b"))
      batches.tail.foreach(b => ScaleLayout.appendIndexed(b, s"$tmp/t", Seq("a", "b")))
      val box = Map("a" -> (0.0, 249.0), "b" -> (0.0, 249.0))
      val filt = col("a").between(0, 249) && col("b").between(0, 249)
      val expected = spark.read.parquet(s"$tmp/t").filter(filt).count()
      val total = spark.read.parquet(s"$tmp/t").count()
      ScaleLayout.readPruned(spark, s"$tmp/t", box)
      val (kBefore, totBefore) = ScaleLayout.lastPruneFor(s"$tmp/t").get
      assert(kBefore == totBefore, "interleaved appends should defeat pruning entirely")

      ScaleLayout.optimizeZorder(spark, s"$tmp/t", Seq("a", "b"), files = 16, bits = 5)
      // Between commit and vacuum, the old generation is retained for in-flight
      // readers: snapshot reads are exact, the directory holds both generations.
      assert(ScaleLayout.readCommitted(spark, s"$tmp/t").count() == total,
        "optimize must not lose rows")
      val pruned = ScaleLayout.readPruned(spark, s"$tmp/t", box)
      assert(pruned.filter(filt).count() == expected, "pruned read must stay exact")
      val (kAfter, totAfter) = ScaleLayout.lastPruneFor(s"$tmp/t").get
      assert(kAfter * 2 <= totAfter,
        s"a 1/16-area box should prune at least half the optimized files ($kAfter/$totAfter)")
      // Vacuum reclaims the pre-optimize generation; a plain directory read is
      // then exact again (no index resolution needed).
      ScaleLayout.vacuum(spark, s"$tmp/t")
      assert(spark.read.parquet(s"$tmp/t").count() == total,
        "vacuum must leave exactly the committed generation on disk")
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", box).filter(filt).count() == expected)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("a reader concurrent with optimizeZorder sees the old or new layout, never a missing table") {
    val tmp = java.nio.file.Files.createTempDirectory("optzconc").toString
    try {
      val rnd = new scala.util.Random(23)
      val df = Seq.fill(4000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
        .toDF("a", "b").repartition(8)
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("a", "b"))
      val box = Map("a" -> (0.0, 499.0), "b" -> (0.0, 499.0))
      val filt = col("a").between(0, 499) && col("b").between(0, 499)
      val expected = ScaleLayout.readPruned(spark, s"$tmp/t", box).filter(filt).count()
      @volatile var failure: Option[Throwable] = None
      @volatile var stop = false
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = new Thread(() => {
        // every resolution must see a complete committed snapshot — same count,
        // no missing-table or missing-file errors at any point during the swap
        while (!stop && failure.isEmpty) {
          try {
            val n = ScaleLayout.readPruned(spark, s"$tmp/t", box).filter(filt).count()
            if (n != expected)
              failure = Some(new AssertionError(s"torn read: $n != $expected"))
            reads.incrementAndGet()
          } catch { case t: Throwable => failure = Some(t) }
        }
      })
      reader.start()
      try {
        (0 until 3).foreach { _ =>
          ScaleLayout.optimizeZorder(spark, s"$tmp/t", Seq("a", "b"), files = 8, bits = 5)
        }
      } finally { stop = true; reader.join(30000) }
      failure.foreach(throw _)
      assert(reads.get() > 0, "the reader never completed a read during maintenance")
      // after the readers drain, vacuum reclaims the three superseded generations
      ScaleLayout.vacuum(spark, s"$tmp/t")
      assert(spark.read.parquet(s"$tmp/t").filter(filt).count() == expected)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("crash before the commit flip leaves the old version committed; vacuum reclaims the garbage") {
    val tmp = java.nio.file.Files.createTempDirectory("optzcrash").toString
    try {
      val df = (0L until 2000L).map(i => (i % 997, (i * 31) % 997)).toDF("a", "b")
        .repartition(4)
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("a", "b"))
      val v0 = ScaleLayout.committedVersion(spark, s"$tmp/t").get
      val filesBefore = new java.io.File(s"$tmp/t").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      ScaleLayout.optimizeZorderInternal(
        spark, s"$tmp/t", Seq("a", "b"), files = 8, bits = 5, crashBeforeCommit = true)
      // the pointer never flipped: readers still resolve the original snapshot
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(v0))
      assert(ScaleLayout.readCommitted(spark, s"$tmp/t").count() == 2000L)
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("a" -> (0.0, 996.0)))
        .count() == 2000L)
      // the half-written generation is on disk but unreferenced; vacuum removes it
      ScaleLayout.vacuum(spark, s"$tmp/t")
      val filesAfter = new java.io.File(s"$tmp/t").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(filesAfter == filesBefore, s"vacuum must drop the crashed generation " +
        s"($filesAfter files vs $filesBefore before the crash)")
      assert(spark.read.parquet(s"$tmp/t").count() == 2000L)
      // a rerun after the crash succeeds and supersedes the abandoned version dir
      ScaleLayout.optimizeZorder(spark, s"$tmp/t", Seq("a", "b"), files = 8, bits = 5)
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").exists(_ > v0))
      assert(ScaleLayout.readCommitted(spark, s"$tmp/t").count() == 2000L)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("compactIndex merges index files under a new committed version; reads stay exact") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcompact").toString
    try {
      val mk = (lo: Long) => (lo until lo + 1000L).map(i => Tuple1(i)).toDF("v")
        .repartitionByRange(4, col("v"))
      ScaleLayout.writeIndexed(mk(0), s"$tmp/t", Seq("v"))
      (1 to 5).foreach(b => ScaleLayout.appendIndexed(mk(b * 1000L), s"$tmp/t", Seq("v")))
      val v0 = ScaleLayout.committedVersion(spark, s"$tmp/t").get
      val before = new java.io.File(ScaleLayout.committedIndexDir(spark, s"$tmp/t").get)
        .listFiles((_: java.io.File, n: String) => n.endsWith(".parquet")).length
      assert(before >= 6, s"appends should have accumulated index files, got $before")
      ScaleLayout.compactIndex(spark, s"$tmp/t")
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(v0 + 1))
      val dir = ScaleLayout.committedIndexDir(spark, s"$tmp/t").get
      val after = new java.io.File(dir)
        .listFiles((_: java.io.File, n: String) => n.endsWith(".parquet")).length
      assert(after == 1, s"compacted index should be one file, got $after")
      // same index ROWS (one per data file), so pruning is unchanged and exact
      val era = ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (2000.0, 2999.0)))
      assert(era.count() == 1000L)
      val (k, tot) = ScaleLayout.lastPruneFor(s"$tmp/t").get
      assert(tot == 24 && k <= 8, s"prune stats after compaction: $k/$tot")
      // appends continue into the compacted version
      ScaleLayout.appendIndexed(mk(6000L), s"$tmp/t", Seq("v"))
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (6000.0, 6999.0)))
        .count() == 1000L)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("compactIndex migrates a pre-versioning flat index without losing it") {
    val tmp = java.nio.file.Files.createTempDirectory("idxlegacy").toString
    try {
      val df = (0L until 1000L).map(i => Tuple1(i)).toDF("v").repartitionByRange(4, col("v"))
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("v"))
      // reconstruct the pre-versioning layout: index rows directly under
      // _graft_index, no commit pointer
      val idx = spark.read.parquet(s"$tmp/t/_graft_index/v1").collect()
      val schema = spark.read.parquet(s"$tmp/t/_graft_index/v1").schema
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(s"$tmp/t/_graft_index"))
      new java.io.File(s"$tmp/t/_graft_commit").delete() // legacy pointer, if any
      spark.createDataFrame(
        spark.sparkContext.parallelize(idx.toIndexedSeq, 2), schema)
        .write.parquet(s"$tmp/t/_graft_index")
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").isEmpty)
      ScaleLayout.compactIndex(spark, s"$tmp/t")
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(1))
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (0.0, 249.0)))
        .count() == 250L)
      // the flat files are gone, the versioned dir + data survived intact
      val flat = new java.io.File(s"$tmp/t/_graft_index")
        .listFiles((_: java.io.File, n: String) => n.endsWith(".parquet")).length
      assert(flat == 0)
      assert(spark.read.parquet(s"$tmp/t").count() == 1000L)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("stale listing missing the newest marker resolves the PREVIOUS committed " +
      "index version — never the flat dir, and its dir is still readable") {
    val tmp = java.nio.file.Files.createTempDirectory("idxstale").toString
    try {
      val mk = (lo: Long) => (lo until lo + 500L).map(i => Tuple1(i)).toDF("v")
        .repartitionByRange(2, col("v"))
      ScaleLayout.writeIndexed(mk(0), s"$tmp/t", Seq("v"))
      (1 to 3).foreach(b => ScaleLayout.appendIndexed(mk(b * 500L), s"$tmp/t", Seq("v")))
      ScaleLayout.compactIndex(spark, s"$tmp/t") // v1 -> v2
      val v = ScaleLayout.committedVersion(spark, s"$tmp/t").get
      assert(new java.io.File(s"$tmp/t/_graft_index/_commit_v${v - 1}").exists(),
        "commitVersion must retain the previous marker for the stale-listing fallback")
      // simulate a lister whose view predates the new marker: delete it
      new java.io.File(s"$tmp/t/_graft_index/_commit_v$v").delete()
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(v - 1))
      // the previous generation's DIR was retained too (vacuum reclaims it
      // later), so a read through the stale resolution still works
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (0.0, 499.0)))
        .count() == 500L)
      // vacuum (gated on no-readers) reclaims the stale dir + marker together
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("a table whose only commit is a legacy _graft_commit pointer resolves " +
      "its index through that pointer") {
    val tmp = java.nio.file.Files.createTempDirectory("idxpointer").toString
    try {
      val df = (0L until 1000L).map(i => Tuple1(i)).toDF("v").repartitionByRange(4, col("v"))
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("v"))
      // the pre-marker layout: no marker, a pointer file naming v1
      new java.io.File(s"$tmp/t/_graft_index/_commit_v1").delete()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/t/_graft_commit"), "v1\n")
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(1))
      assert(ScaleLayout.committedIndexDir(spark, s"$tmp/t").contains(s"$tmp/t/_graft_index/v1"))
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (0.0, 249.0)))
        .count() == 250L)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("a corrupt _graft_commit pointer fails loudly and names the file") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcorrupt").toString
    try {
      val df = (0L until 100L).map(i => Tuple1(i)).toDF("v")
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("v"))
      new java.io.File(s"$tmp/t/_graft_index/_commit_v1").delete()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/t/_graft_commit"), "banana")
      val e = intercept[IllegalArgumentException] {
        ScaleLayout.committedIndexDir(spark, s"$tmp/t")
      }
      assert(e.getMessage.contains("corrupt commit pointer"), e.getMessage)
      assert(e.getMessage.contains(s"$tmp/t/_graft_commit"), e.getMessage)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("compactIndex on a trailing-slash path still classifies the flat index " +
      "correctly (normalized Path comparison)") {
    val tmp = java.nio.file.Files.createTempDirectory("idxslash").toString
    try {
      val df = (0L until 500L).map(i => Tuple1(i)).toDF("v").repartitionByRange(2, col("v"))
      ScaleLayout.writeIndexed(df, s"$tmp/t", Seq("v"))
      // pre-versioning flat layout, then compact through a slash-variant path
      val idx = spark.read.parquet(s"$tmp/t/_graft_index/v1").collect()
      val schema = spark.read.parquet(s"$tmp/t/_graft_index/v1").schema
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(s"$tmp/t/_graft_index"))
      spark.createDataFrame(
        spark.sparkContext.parallelize(idx.toIndexedSeq, 2), schema)
        .write.parquet(s"$tmp/t/_graft_index")
      ScaleLayout.compactIndex(spark, s"$tmp/t/") // note the trailing slash
      assert(ScaleLayout.committedVersion(spark, s"$tmp/t").contains(1))
      assert(spark.read.parquet(s"$tmp/t/_graft_index/v1").count() == idx.length.toLong)
      assert(ScaleLayout.readPruned(spark, s"$tmp/t", Map("v" -> (0.0, 249.0)))
        .count() == 250L)
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("concurrent readPruned calls keep independent prune stats (keyed by path)") {
    val tmp = java.nio.file.Files.createTempDirectory("prunestats").toString
    try {
      val a = (0L until 1000L).map(i => Tuple1(i)).toDF("v").repartitionByRange(8, col("v"))
      val b = (0L until 1000L).map(i => Tuple1(i)).toDF("v").repartitionByRange(4, col("v"))
      ScaleLayout.writeIndexed(a, s"$tmp/a", Seq("v"))
      ScaleLayout.writeIndexed(b, s"$tmp/b", Seq("v"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new Runnable {
          def run(): Unit = (0 until 5).foreach { _ =>
            ScaleLayout.readPruned(spark, s"$tmp/a", Map("v" -> (0.0, 124.0))).count() } })
        val fb = pool.submit(new Runnable {
          def run(): Unit = (0 until 5).foreach { _ =>
            ScaleLayout.readPruned(spark, s"$tmp/b", Map("v" -> (0.0, 249.0))).count() } })
        fa.get(); fb.get()
      } finally pool.shutdown()
      // both observations survive — a shared tuple would have clobbered one
      assert(ScaleLayout.lastPruneFor(s"$tmp/a").contains((1, 8)))
      assert(ScaleLayout.lastPruneFor(s"$tmp/b").contains((1, 4)))
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("clustered layout is sorted within partitions") {
    val df = Seq((3, "c"), (1, "a"), (2, "b"), (1, "z")).toDF("k", "v")
    val out = ScaleLayout.clustered(df, 2, Seq("k"))
    out.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val ks = it.map(_.getInt(0)).toSeq
      require(ks == ks.sorted, s"partition not sorted: $ks")
    }
  }
}
