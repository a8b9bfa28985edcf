package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Approximate-nearest-neighbor search over an embedding column (`array<float>`).
  *
  * Two paths: brute-force cosine top-k as the exactness baseline, and an
  * LSH-bucketed (random-hyperplane) variant as the 100 TB scale path — signatures
  * turn the O(|Q|·|C|) cross join into per-bucket joins; multi-probe keeps recall.
  * Scoring runs through the native loop expressions in `VectorExpressions.scala`
  * (whole-stage codegen, deterministic left-to-right double accumulation, no UDF);
  * the HOF `aggregate`-fold forms are kept as the reference semantics they must
  * stay bit-identical to.
  */
object Similarity {

  /** Sequential-fold dot product of two equal-length vector columns (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine ([[graft.functions.CosineSimilarity]]): one fused loop
    * computing a·b, a·a, b·b (same accumulation order as `cosine`, bit-identical
    * scores), compiled in milliseconds where the unrolled form took seconds.
    */
  def cosineNative(a: Column, b: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    Bridge.column(graft.functions.CosineSimilarity(
      Bridge.toExpression(spark, a), Bridge.toExpression(spark, b)))
  }

  /** Brute-force cosine top-k: every query against every corpus row, ranked per query.
    * Broadcast the (small) query side so the corpus streams map-side; the only wide
    * operation is the per-query top-k window.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).alias("query_id"), col(vecCol).alias("qv")))
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
    val cosFn = cosineNative(col("qv"), col("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosFn)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk").cast("int").alias("rk"))
  }

  /** Hard-negative mining for embedding-model training (contrastive batches à
    * la DPR/SimCSE/E5): for each anchor, the top-k most-similar corpus vectors
    * with a DIFFERENT label, excluding anything above `excludeCos` — the
    * highest-similarity negatives teach the decision boundary, while
    * near-duplicates above the cut are presumed label noise / paraphrases that
    * would poison the contrastive batch. Same shape as [[bruteForceTopK]]:
    * broadcast anchors, one corpus scan, per-anchor TakeOrdered; at corpus
    * scale swap the scan for [[ivfPqQuery]] candidates and rerank exactly.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", excludeCos: Double = 0.95): DataFrame = {
    val q = broadcast(queries.select(col(idCol).alias("query_id"),
      col(vecCol).alias("qv"), col(labelCol).alias("ql")))
    val c = corpus.select(col(idCol).alias("negative_id"),
      col(vecCol).alias("cv"), col(labelCol).alias("cl"))
    val scored = c.join(q, col("ql") =!= col("cl"))
      .withColumn("cos", cosineNative(col("qv"), col("cv")))
      .filter(col("cos") < excludeCos)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("negative_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("negative_id"), col("rk").cast("int").alias("rk"))
  }

  /** Deterministic pseudo-random hyperplanes: component (p, j) derived from a
    * splitmix64-style integer mix of the indices (stable across runs and engines —
    * no RNG state involved).
    */
  private[graft] def planeComponent(p: Int, j: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane signature: `planes` sign bits packed into a long, via
    * the native [[graft.functions.LshBits]] kernel — one loop over the
    * precomputed plane matrix, generated-code size INDEPENDENT of the plane
    * count (the previous per-plane dot + OR-fold grew the single expression
    * linearly with `planes`, the same janino collapse [[argmaxCid]] documents,
    * hit at the 24–32 planes a billion-row corpus needs). Accumulation order
    * and the `>= 0` sign test are bit-identical, so signatures (and every LSH
    * bucket downstream) are unchanged.
    */
  def lshSignature(vec: Column, dim: Int, planes: Int = 16): Column = {
    val mat = Array.tabulate(planes, dim)((p, j) => planeComponent(p, j))
    Bridge.column(graft.functions.LshBits(
      Bridge.toExpression(org.apache.spark.sql.SparkSession.active, vec), mat))
  }

  /** LSH-bucketed ANN: join query and corpus rows sharing a signature bucket
    * (multi-probe: the exact bucket plus all 1-bit flips), rank within candidates by
    * exact cosine. Recall < 1 by construction; scale path for when brute force is
    * impossible.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      planes: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sig = lshSignature(col(vecCol), dim, planes)
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"),
      sig.alias("bucket"))
    // multi-probe: original bucket + every 1-bit flip
    val probes = array((lit(0L) +: (0 until planes).map(p => shiftleft(lit(1L), p))): _*)
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("qv"), sig.alias("qsig"))
      .withColumn("bucket", explode(transform(probes, m => col("qsig").bitwiseXOR(m))))
    // No candidate dedup needed: each corpus row carries ONE bucket and a query's
    // probe values are pairwise distinct (XOR with distinct masks is injective), so a
    // (query, corpus) pair can match at most one probe — the join emits each pair at
    // most once. The previous distinct() here shuffled both embedding vectors per
    // candidate pair for nothing.
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .withColumn("cos", cosineNative(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk").cast("int").alias("rk"))
  }


  /** Arg-max cell id for a vector against driver-held centroids: a native
    * looping kernel ([[graft.functions.ArgmaxCell]]) — no join, no row
    * expansion, no shuffle, and code size INDEPENDENT of nlist (the previous
    * `greatest(struct(dot, cid) × nlist)` form grew the generated Java with
    * the cell count and collapsed at √N-grown nlist — measured 0.8 s → ~26 s
    * going 16 → 48 cells on the 10× smoke corpus). Ties break to the larger
    * cid, bit-identical to the composed form.
    */
  private[graft] def argmaxCid(v: Column, cents: Seq[(Int, Array[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    Bridge.column(graft.functions.ArgmaxCell(
      Bridge.toExpression(org.apache.spark.sql.SparkSession.active, v),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray))
  }

  /** Top-`nprobe` cell ids by (dot desc, cid desc) — the probe-side analogue
    * of [[argmaxCid]], replacing `slice(sort_array(array(struct…)))`.
    */
  private[graft] def topCells(v: Column, cents: Seq[(Int, Array[Double])], n: Int): Column = {
    val sorted = cents.sortBy(_._1)
    Bridge.column(graft.functions.TopCells(
      Bridge.toExpression(org.apache.spark.sql.SparkSession.active, v),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray, n))
  }

  /** The IVF coarse quantizer: seed `nlist` unit centroids from an md5-keyed corpus
    * sample (reproducible in any engine), refine with `lloydIters` k-means steps, and
    * return them unit-normalized for dot-product scoring. `c` must carry (id, vector)
    * as its first two columns. Shared by [[ivfTopK]] and [[Curation.semanticDedup]].
    *
    * Lloyd refinement is a per-row argmax assignment (map stage) followed by a
    * (cid × dim)-sized mean aggregation collected to the driver — the only driver
    * collect is the centroid table itself, which is broadcast-dimension-sized by
    * construction. Empty cells keep their previous centroid.
    */
  private[graft] def buildCentroids(
      c: DataFrame, nlist: Int, lloydIters: Int): Seq[(Int, Array[Double])] = {
    val vecC = col(c.columns(1))
    val seeds = seedCentroids(c, nlist)
    buildFromSeeds(c, vecC, seeds, lloydIters)
  }

  /** The quantizer's seed vectors BEFORE unit normalization: `nlist` corpus rows in
    * md5(id) order, cid = 1-based position — actual corpus vectors, which is what
    * makes `lloydIters = 0` quantizers externally replayable (the d7/p15 oracles
    * re-pick the same rows with the same md5 ordering). nlist rows to the driver
    * (index build, not a hot path).
    */
  private[graft] def seedCentroids(c: DataFrame, nlist: Int): Seq[(Int, Array[Double])] = {
    val idC = col(c.columns(0))
    val seedRows = c.orderBy(md5(idC.cast("string"))).limit(nlist).collect()
    seedRows.toSeq.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue()).toArray)
    }
  }

  private def buildFromSeeds(
      c: DataFrame, vecC: Column,
      seeds: Seq[(Int, Array[Double])], lloydIters: Int): Seq[(Int, Array[Double])] = {
    val refined = (1 to math.max(lloydIters, 0)).foldLeft(seeds) { (cents, _) =>
      val unit = unitNormalized(cents)
      val means = c.withColumn("cid", argmaxCid(vecC, unit))
        .select(col("cid"), posexplode(vecC).as(Seq("j", "x")))
        .groupBy("cid", "j").agg(avg(col("x")).alias("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
        }
      cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    unitNormalized(refined)
  }

  private def unitNormalized(cents: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double])] =
    cents.map { case (cid, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      (cid, if (n > 0) c.map(_ / n) else c)
    }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus against `nlist` centroids,
    * then search only the `nprobe` nearest cells per query. The scale path when the
    * corpus outgrows brute force: the corpus shuffles once by cell at build time, and
    * each query touches nprobe/nlist of the data.
    *
    * Centroids live on the driver (nlist rows — the coarse quantizer, collected once
    * at index-build time, exactly like a broadcast dimension) and are refined by
    * `lloydIters` k-means steps. Cell assignment is a per-row arg-max over the
    * broadcast centroid literals — one map stage, zero shuffle, no row expansion —
    * instead of a corpus×centroids join; the only corpus-wide shuffles left are the
    * tiny (cid, dim) mean aggregation per Lloyd step and the final per-query top-k.
    *
    * The seed sample orders by `md5(cast(id as string))` (not xxhash64) so an external
    * engine can reproduce the identical index for oracle checks; hash quality is
    * equivalent, and the sample plans as TakeOrdered (per-partition top-K + merge).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nlist >= 2, "ivfTopK needs at least 2 cells")
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
    val unit = buildCentroids(c, nlist, lloydIters)

    val cells = c.withColumn("cid", argmaxCid(col("cv"), unit))

    // nprobe nearest cells per query: the native top-cells kernel — again a
    // pure map stage (ties break to larger cid, matching argmaxCid).
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("qv"))
    val probes = q
      .withColumn("cid", explode(topCells(col("qv"), unit, nprobe)))
      .select(col("query_id"), col("qv"), col("cid"))

    val scored = probes.join(cells, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineNative(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk").cast("int").alias("rk"))
  }

  /** Product-quantization codebooks: `m` subspaces of `dim / m` components, each with
    * `ksub` sub-centroids seeded from the md5-keyed corpus sample (the same
    * engine-reproducible construction as [[buildCentroids]]) and optionally refined
    * with Lloyd steps (all subspaces refined per iteration, in one aggregation
    * sized (m·ksub·dsub) — centroid-table-sized, never corpus-sized). Assignment is
    * L2 via the dot-trick (argmin ‖x−c‖² = argmax x·c − ‖c‖²/2), evaluated by the
    * native [[graft.functions.PqEncode]] loop kernel.
    */
  private[graft] def buildPqCodebooks(
      c: DataFrame, dim: Int, m: Int, ksub: Int, lloydIters: Int)
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val idC = col(c.columns(0))
    val vecC = col(c.columns(1))
    val seedRows = c.orderBy(md5(idC.cast("string"))).limit(ksub).collect()
    val seeds: Array[Array[Double]] = seedRows.map(
      _.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue()).toArray)
    var books = Array.tabulate(m, ksub)((s, i) =>
      seeds(i).slice(s * dsub, (s + 1) * dsub))
    for (_ <- 1 to math.max(lloydIters, 0)) {
      val means = c
        .select(pqEncodeCol(vecC, books).alias("__codes"),
          posexplode(vecC).as(Seq("j", "x")))
        .select(
          (col("j") / dsub).cast("int").alias("s"),
          (col("j") % dsub).alias("d"),
          element_at(col("__codes"), (col("j") / dsub).cast("int") + 1).alias("scid"),
          col("x"))
        .groupBy("s", "scid", "d").agg(avg(col("x")).alias("mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      // row schema: (s, scid, d, mn); cells with no assigned vectors keep their
      // previous centroid (the clone default)
      means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, scid), rows) =>
        val arr = next(s)(scid - 1)
        rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
      }
      books = next
    }
    books
  }

  private def pqEncodeCol(vec: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(graft.functions.PqEncode(
      Bridge.toExpression(org.apache.spark.sql.SparkSession.active, vec), books))

  private def pqTableCol(vec: Column, books: Array[Array[Array[Double]]]): Column =
    Bridge.column(graft.functions.PqTable(
      Bridge.toExpression(org.apache.spark.sql.SparkSession.active, vec), books))

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring — the vector
    * COMPRESSION scale path, complementary to [[ivfTopK]]'s candidate pruning: the
    * corpus is encoded once into `m` one-byte codes per vector (64 float dims →
    * 8 bytes, a 32× scan/shuffle compression), and each query ranks the whole code
    * table through a per-query lookup table of sub-dot-products, never touching a
    * corpus float again.
    *
    * Scale shape: codebooks are driver-held literals (m·ksub·dsub doubles — an
    * index-build artifact like the IVF centroids); encoding is a per-row arg-max map
    * stage (zero shuffle); scoring broadcasts the query side with its precomputed
    * flat lookup table (m·ksub doubles per query) over the code table, so the only
    * corpus-wide data in motion are (id, m codes) rows. Approximate by construction
    * (quantization error); compose with exact re-ranking over the returned top-k ids
    * when the original vectors are retrievable.
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
    val books = buildPqCodebooks(c, dim, m, ksub, lloydIters)

    val codes = c.select(col("neighbor_id"), pqEncodeCol(col("cv"), books).alias("codes"))

    // flat per-query ADC table: entry (s·ksub + scid−1) = q_s · c_{s,scid}
    val q = broadcast(queries
      .select(col(idCol).alias("query_id"), col(vecCol).alias("qv"))
      .withColumn("qtab", pqTableCol(col("qv"), books))
      .select(col("query_id"), col("qtab")))

    val score = (0 until m).map(s =>
      element_at(col("qtab"), lit(s * ksub) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    val scored = codes.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", score)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("adc"), 6).alias("adc"),
        col("rk").cast("int").alias("rk"))
  }

  /** IVF+PQ with exact re-ranking — the production composition (FAISS IVFPQ shape):
    * coarse cells PRUNE (each query touches ~nprobe/nlist of the corpus), PQ codes
    * COMPRESS (candidates are scored from m one-byte codes, never vectors), and the
    * top-`rerank` ADC candidates are re-scored with exact cosine against the
    * original vectors to restore exactness on the short list.
    *
    * Scale shape: the index table shuffles the corpus once by cell at build time
    * carrying (cid, id, codes); the per-candidate scoring join moves codes only; the
    * re-rank join fetches original vectors for `rerank` ids PER QUERY — the only
    * stage that touches floats after index build, sized queries×rerank, not corpus.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 32, lloydIters: Int = 0, pqLloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqQuery(
      buildIvfPq(corpus, dim, nlist, m, ksub, lloydIters, pqLloydIters, idCol, vecCol),
      queries, k, nprobe, rerank, idCol, vecCol)

  /** A built IVF-PQ index: the driver-held quantizers (coarse centroids + PQ
    * codebooks — broadcast-dimension-sized by construction) and the encoded
    * corpus `codes` (cell id, vector id, m one-byte codes, and the original
    * vector for exact re-ranking). Building pays the O(N·nlist) cell
    * assignment ONCE; every [[Similarity.ivfPqQuery]] against it is pure
    * serving cost — the shape a 100 TB deployment runs, with `codes` persisted
    * via [[Similarity.saveIvfPq]] and mounted by [[Similarity.loadIvfPq]].
    */
  final case class IvfPqIndex(
      dim: Int, nlist: Int, m: Int, ksub: Int,
      centroids: Seq[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]],
      codes: DataFrame)

  /** Build the IVF-PQ index for a corpus: quantizer training (md5-seeded, so
    * reproducible in any engine, + optional Lloyd refinement) and the one-pass
    * corpus encode (per-row argmax cell + PQ codes — a map stage, no shuffle).
    */
  def buildIvfPq(
      corpus: DataFrame, dim: Int, nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      lloydIters: Int = 0, pqLloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
    val unit = buildCentroids(c, nlist, lloydIters)
    val books = buildPqCodebooks(c, dim, m, ksub, pqLloydIters)
    val codes = c.select(
      argmaxCid(col("cv"), unit).alias("cid"),
      col("neighbor_id"),
      pqEncodeCol(col("cv"), books).alias("codes"),
      col("cv"))
    IvfPqIndex(dim, nlist, m, ksub, unit, books, codes)
  }

  /** Serve top-k from a built index: probe `nprobe` cells per query, rank the
    * probed codes by ADC through the query's lookup table, exact-rerank the
    * shortlist on the stored vectors. Identical results to [[ivfPqTopK]] with
    * the same parameters (the one-shot API is build + this).
    */
  def ivfPqQuery(
      index: IvfPqIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
      rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val m = index.m
    val ksub = index.ksub
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("qv"))
      .withColumn("qtab", pqTableCol(col("qv"), index.codebooks))
    val probes = broadcast(q
      .withColumn("cid", explode(topCells(col("qv"), index.centroids, nprobe)))
      .select(col("query_id"), col("qv"), col("qtab"), col("cid")))

    val adc = (0 until m).map(s =>
      element_at(col("qtab"), lit(s * ksub) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    // each corpus vector lives in ONE cell and probe cells are distinct, so a
    // candidate appears at most once per query — no dedup exchange needed
    val aw = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val shortList = probes.join(index.codes, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("ark", row_number().over(aw))
      .filter(col("ark") <= rerank)
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))

    val rw = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    shortList
      .withColumn("cos", cosineNative(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).alias("cos"),
        col("rk").cast("int").alias("rk"))
  }

  /** Persist an index: `codes` as parquet (cid, id, codes, vector), quantizers
    * as two small parquet tables. Doubles stay parquet-exact — a reloaded
    * index reproduces the saved one's results bit-for-bit.
    */
  def saveIvfPq(index: IvfPqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "centroid")
      .withColumn("dim", lit(index.dim)).withColumn("nlist", lit(index.nlist))
      .withColumn("m", lit(index.m)).withColumn("ksub", lit(index.ksub))
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for (s <- index.codebooks.indices; i <- index.codebooks(s).indices)
      yield (s, i, index.codebooks(s)(i).toSeq))
      .toDF("s", "i", "sub")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** FAISS-style `add` for a persisted index: encode ONLY the new vectors with
    * the saved quantizers — per-row argmax cell + PQ codes, a map stage over
    * the batch, no retraining, no touch of existing code rows — and append to
    * the codes table. New vectors are searchable by the next [[loadIvfPq]];
    * results for them are exactly what a full rebuild WITH THE SAME quantizers
    * would return. The standing caveat of every add-without-retrain index:
    * under distribution shift the frozen centroids/codebooks drift away from
    * the data and recall decays — schedule a periodic
    * [[buildIvfPq]]+[[saveIvfPq]] rebuild, the ANN analogue of
    * [[ScaleLayout.optimizeZorder]].
    */
  def appendIvfPq(
      spark: org.apache.spark.sql.SparkSession, path: String, newVectors: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val idx = loadIvfPq(spark, path) // codes stay lazy; only the quantizers are used
    newVectors
      .select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
      .select(
        argmaxCid(col("cv"), idx.centroids).alias("cid"),
        col("neighbor_id"),
        pqEncodeCol(col("cv"), idx.codebooks).alias("codes"),
        col("cv"))
      .write.mode("append").parquet(s"$path/codes")
  }

  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val centRows = spark.read.parquet(s"$path/centroids").collect()
    val head = centRows.head
    val dim: Int = head.getAs[Int]("dim")
    val nlist: Int = head.getAs[Int]("nlist")
    val m: Int = head.getAs[Int]("m")
    val ksub: Int = head.getAs[Int]("ksub")
    val centroids = centRows.toSeq
      .map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Double]]("centroid").toArray))
      .sortBy(_._1)
    val bookRows = spark.read.parquet(s"$path/codebooks").collect()
    val books = Array.ofDim[Array[Double]](m, ksub)
    bookRows.foreach { r =>
      books(r.getAs[Int]("s"))(r.getAs[Int]("i")) = r.getAs[Seq[Double]]("sub").toArray
    }
    IvfPqIndex(dim, nlist, m, ksub, centroids, books,
      spark.read.parquet(s"$path/codes"))
  }

  /** Exact all-pairs cosine near-duplicates (id_a < id_b, cosine ≥ threshold):
    * broadcast self-join scored with the native-loop cosine. Exact recall —
    * the oracle-checkable baseline; O(n²) scoring bounds it to corpora whose
    * broadcast side fits (use [[cosineNearDup]]'s LSH blocking past that).
    */
  def cosinePairsExact(
      df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Native-loop cosine straight off the scan rows: measured 5× faster than the HOF
    // fold at 12.5M pairs, and faster than pre-normalizing through a cached
    // projection (per-pair access to InMemoryRelation array columns costs more than
    // the two extra norm computations inside codegen).
    val a = df.select(col(idCol).alias("id_a"), col(vecCol).alias("va"))
    val b = broadcast(df.select(col(idCol).alias("id_b"), col(vecCol).alias("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold) via LSH
    * buckets + exact verification.
    */
  def cosineNearDup(
      df: DataFrame, threshold: Double, dim: Int, planes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sig = lshSignature(col(vecCol), dim, planes)
    val base = df.select(col(idCol).alias("id"), col(vecCol).alias("v"), sig.alias("sig"))
    val probes = array((lit(0L) +: (0 until planes).map(p => shiftleft(lit(1L), p))): _*)
    val probed = base.withColumn("bucket", explode(transform(probes, m => col("sig").bitwiseXOR(m))))
    val a = probed.alias("a")
    val b = base.withColumnRenamed("sig", "bucket").alias("b")
    // Pairs are unique by construction (no distinct needed): the b-side carries ONE
    // bucket per row and a-side probe values are pairwise distinct (XOR with distinct
    // masks), so (a, b) can meet on at most one bucket; the id_a < id_b orientation
    // rules out the mirrored match. Dropping the distinct() removes a shuffle that
    // carried both dim-sized vectors per candidate pair.
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"),
        col("a.v").alias("va"), col("b.v").alias("vb"))
      .withColumn("cos", cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).alias("cos"))
  }
}
