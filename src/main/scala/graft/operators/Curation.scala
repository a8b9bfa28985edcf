package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: benchmark decontamination,
  * per-domain caps, document chunking, sequence packing, semantic (embedding-cluster)
  * dedup, incremental snapshot dedup, and PII redaction.
  *
  * Like the rest of `graft.operators`, every operator is a pure DataFrame pipeline
  * whose 100 TB cost profile is explicit in the plan: map-only stages wherever the
  * semantics allow, broadcast joins for benchmark-sized sides, and bounded state on
  * every key-partitioned phase. Reference scope: these extend the engine beyond
  * wren-engine's own surface per the builder brief (the reference has no
  * data-pipeline layer; its closest analogue is the ibis-server's relational surface).
  */
object Curation {

  // ---------------------------------------------------------------- decontamination

  /** Training documents that share at least one word `n`-gram with an evaluation
    * benchmark — the GPT-3/Dolma 13-gram decontamination rule. Returns distinct
    * contaminated ids (one column, named after `idCol`).
    *
    * Scale shape: the benchmark side is eval-set-sized (thousands of documents, vs a
    * 100 TB training corpus), so its distinct n-gram hash set is aggregated and then
    * BROADCAST — contamination tagging is a broadcast left-semi hash join against the
    * exploded training shingles, i.e. a map-only pass over the corpus with no shuffle
    * of training data at all. Shingles are 64-bit hashes, not strings, so the
    * broadcast table is 8 bytes per benchmark n-gram.
    */
  def contaminatedIds(
      train: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    // fused per-doc gram hashing (ShingleHashes): no 13-word gram strings are ever
    // materialized in rows on either side — only 8-byte hashes explode
    val benchGrams = Dedup.shingleHashSets(benchmark, textCol, idCol, n)
      .select(explode(col("s")).alias("__h")).distinct()
    Dedup.shingleHashSets(train, textCol, idCol, n)
      .select(col("id"), explode(col("s")).alias("__h"))
      .join(broadcast(benchGrams), Seq("__h"), "left_semi")
      .select(col("id").alias(idCol)).distinct()
  }

  /** Remove contaminated documents from the training set (left-anti on the
    * contaminated-id set, which is small — join key is the id only).
    */
  def decontaminate(
      train: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame =
    train.join(contaminatedIds(train, benchmark, textCol, idCol, n),
      Seq(idCol), "left_anti")

  /** Embedding-level decontamination: corpus rows whose vector is within cosine
    * `threshold` of ANY benchmark vector — the semantic cousin of the 13-gram rule
    * (catches paraphrased eval leakage that exact n-grams miss).
    *
    * Scale shape mirrors [[contaminatedIds]]: the benchmark is eval-set-sized, so
    * its (id, vector, LSH bucket) table is BROADCAST and the corpus runs a map-only
    * pass — signature + multi-probe bucket lookup + exact cosine on collisions, no
    * corpus shuffle before the final id-only anti join. The LSH prune keeps the
    * per-row work at |colliding benchmark rows| cosines instead of |benchmark|
    * (recall is the banding recall of `planes`/1-bit multi-probe — exact copies
    * always collide; see `Similarity.cosineNearDup` for the recall discussion).
    */
  def embeddingContaminatedIds(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double, dim: Int,
      planes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val sig = Similarity.lshSignature(col(vecCol), dim, planes)
    val bench = benchmark.select(col(vecCol).alias("__bv"), sig.alias("__bucket"))
    val probes = array((lit(0L) +: (0 until planes).map(p => shiftleft(lit(1L), p))): _*)
    corpus
      .select(col(idCol), col(vecCol), sig.alias("__sig"))
      .withColumn("__bucket", explode(transform(probes, m => col("__sig").bitwiseXOR(m))))
      .join(broadcast(bench), Seq("__bucket"))
      .filter(Similarity.cosineNative(col(vecCol), col("__bv")) >= threshold)
      .select(col(idCol)).distinct()
  }

  /** Drop corpus rows semantically too close to the benchmark (id-only anti join
    * against [[embeddingContaminatedIds]]).
    */
  def decontaminateByEmbedding(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double, dim: Int,
      planes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    corpus.join(
      embeddingContaminatedIds(corpus, benchmark, threshold, dim, planes, idCol, vecCol),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------------------- curriculum order

  /** Curriculum schedule: a difficulty `bin` from fixed ascending `boundaries`
    * (bin = number of boundaries at or below the difficulty) plus a deterministic
    * md5-derived `sched` key, so sorting by (bin, sched, id) yields easy-to-hard
    * training stages with reproducible within-stage mixing — the
    * shuffle-within-stage curriculum shape.
    *
    * Scale: bin assignment and the schedule hash are pure map work; the only
    * distributed cost the consumer pays is the final range-partitioned sort. At
    * scale, exact decile boundaries come from one `stat.approxQuantile` pass fed in
    * as `boundaries` — never a global `ntile` window, whose single-partition sort
    * serializes the corpus through one task.
    */
  def curriculum(
      df: DataFrame, difficulty: Column, idCol: String,
      boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      "curriculum needs ascending, non-empty boundaries")
    val bin = boundaries
      .map(b => when(difficulty >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn("bin", bin)
      .withColumn("sched", Dedup.md5Hash60(col(idCol).cast("string")))
  }

  // ---------------------------------------------------------------- per-domain caps

  /** Keep at most `k` rows per key, preferring the `ordering` columns (which must be
    * a TOTAL order — include a unique id as the last tie-break for deterministic
    * output). The domain-balancing cap every crawl pipeline applies per host/domain.
    *
    * Skew-safe two-phase top-K: a straight `row_number` window shuffles every row of
    * a hot domain into ONE task (a 100 TB crawl can have a single domain with 10⁹
    * pages). Phase 1 splits each key into `salts` deterministic sub-groups and keeps
    * top-k within each — bounding any task's group to ~1/salts of the hot key — so
    * phase 2 ranks at most `salts × k` rows per key. Both phases are windows over a
    * total order, so the final result is exactly the unsalted answer.
    */
  def topKPerKey(
      df: DataFrame, keyCol: String, ordering: Seq[Column], k: Int,
      salts: Int = 16): DataFrame = {
    require(ordering.nonEmpty, "topKPerKey needs ordering columns (ending in a unique id)")
    val salt = pmod(xxhash64(ordering.last), lit(salts))
    val partial = Window.partitionBy(col(keyCol), salt).orderBy(ordering: _*)
    val full = Window.partitionBy(col(keyCol)).orderBy(ordering: _*)
    df.withColumn("__prk", row_number().over(partial)).filter(col("__prk") <= k)
      .withColumn("__rk", row_number().over(full)).filter(col("__rk") <= k)
      .drop("__prk", "__rk")
  }

  // ---------------------------------------------------------------- chunking

  /** Split each document into overlapping word windows of `size` words every `stride`
    * words (chunk c covers words [c·stride, c·stride + size)); the RAG/embedding
    * chunking primitive. Emits (id, chunk_ix, n_words, chunk_text).
    *
    * Map-only: normalize → word array → explode over `ceil(words / stride)` chunk
    * indices. No shuffle; output rows ≈ rows × (1/stride overlap factor), each chunk
    * sliced from the staged word array (the array is materialized once per document
    * in its own projection — see [[Dedup.shingles]] for why that matters inside
    * higher-order-function lambdas).
    */
  def chunk(
      df: DataFrame, textCol: String, idCol: String,
      size: Int = 32, stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1, "chunk needs size >= 1 and stride >= 1")
    val staged = df.select(col(idCol).alias("id"),
      Dedup.wordsArray(col(textCol)).alias("__w"))
    val nw = array_size(col("__w"))
    val nChunks = ceil(nw.cast("double") / stride).cast("int")
    staged.filter(nw > 0)
      .select(col("id"), col("__w"),
        explode(sequence(lit(0), nChunks - 1)).alias("chunk_ix"))
      .select(
        col("id"),
        col("chunk_ix"),
        least(lit(size), nw - col("chunk_ix") * stride).alias("n_words"),
        concat_ws(" ", slice(col("__w"), col("chunk_ix") * stride + 1, lit(size)))
          .alias("chunk_text"))
  }

  // ---------------------------------------------------------------- sequence packing

  /** Pack documents into fixed-`budget` token sequences, GPT-pretraining style:
    * documents are concatenated in a deterministic order and the stream is cut every
    * `budget` tokens; a document's pack is the sequence its first token lands in.
    * Emits (id, bucket, pack_ix, pack_off) — pack_off is the document's token offset
    * within its pack.
    *
    * The concatenation order is (bucket, id) where bucket is an md5-derived hash of
    * the id: each bucket packs independently, so the cumulative-sum window
    * parallelizes across `buckets` partitions instead of serializing the corpus
    * through one task — the knob that makes a running total work at 100 TB (buckets
    * ≈ cluster cores; each bucket's window shuffles only its own slice). Within a
    * bucket the window carries (id, n_tokens) longs, never document text.
    */
  def packSequences(
      df: DataFrame, idCol: String, tokens: Column,
      budget: Int = 512, buckets: Int = 8): DataFrame = {
    require(budget >= 1 && buckets >= 1, "packSequences needs budget >= 1 and buckets >= 1")
    val bucket = Dedup.md5Hash60(col(idCol).cast("string")) % buckets
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
    df.select(col(idCol).alias("id"), tokens.alias("__n"), bucket.alias("bucket"))
      .withColumn("__start", sum(col("__n")).over(w) - col("__n"))
      .select(
        col("id"), col("bucket"),
        floor(col("__start") / budget).alias("pack_ix"),
        (col("__start") % budget).alias("pack_off"))
  }

  // ---------------------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al. 2023): coarse-cluster embeddings with the IVF quantizer,
    * then find cosine near-duplicate pairs WITHIN each cluster only — the scale
    * trick that turns O(n²) semantic dedup into per-cell all-pairs. Returns
    * (id_a, id_b) with id_a < id_b and within-cell cosine ≥ `threshold`.
    *
    * Scale shape: cell assignment is a broadcast-centroid argmax map stage (zero
    * shuffle — same quantizer as [[Similarity.ivfTopK]]); the self-join shuffles the
    * corpus once by cell id. Per-cell pair cost is |cell|²: size `nlist` ≈ n/1000 so
    * cells average ~10³ vectors. When the quantizer collapses (skewed embeddings), a
    * hot cell would degenerate to |cell|² pairs in one task — `maxCellSize > 0`
    * bounds that by recursively re-quantizing every oversized cell with sub-centroids
    * seeded from the cell's own vectors (see [[splitCells]]); 0 keeps the flat
    * quantizer. Recursive cells narrow the candidate set the same way the top-level
    * cells do — SemDeDup's within-cell approximation applied one level deeper.
    */
  def semanticDedup(
      corpus: DataFrame, threshold: Double, nlist: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = 0, maxSplitDepth: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).alias("id"), col(vecCol).alias("v"))
    val cells = splitCells(c, nlist, lloydIters, maxCellSize, maxSplitDepth)
    val a = cells.alias("a")
    val b = cells.alias("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .withColumn("cos", Similarity.cosineNative(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
  }

  /** Cell assignment with oversized-cell re-split: assign every row of `c` (columns
    * (id, v)) to a quantizer cell, and while any cell holds more than `maxCellSize`
    * rows (and `depth` remains), re-run the quantizer WITHIN that cell — sub-centroids
    * seeded from the cell's own vectors — producing hierarchical string cell ids
    * (`"3"`, `"3/1"`, `"3/1/2"`). Returns (id, v, cid).
    *
    * `maxCellSize <= 0` disables splitting (flat integer cids as strings). The depth
    * bound terminates degenerate cells that CANNOT split — `k` identical vectors
    * always share an argmax, so no quantizer separates them; such a cell keeps its
    * |cell|² cost and the bound keeps the driver loop finite. Driver cost is bounded:
    * at most `nlist^depth` cell-size probes, each an nlist-row aggregate, and the
    * assignment frame is localCheckpoint'ed before recursion so per-cell filters
    * don't recompute the scan.
    */
  private[graft] def splitCells(
      c: DataFrame, nlist: Int, lloydIters: Int,
      maxCellSize: Int, depth: Int): DataFrame = {
    val unit = Similarity.buildCentroids(c, nlist, lloydIters)
    val assigned = c.withColumn("cid",
      Similarity.argmaxCid(col("v"), unit).cast("string"))
    if (maxCellSize <= 0 || depth <= 0) return assigned
    val snap = assigned.localCheckpoint(true)
    val sizes = snap.groupBy("cid").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val oversized = sizes.filter(_._2 > maxCellSize).map(_._1).sorted
    if (oversized.isEmpty) snap
    else {
      val kept = snap.filter(!col("cid").isin(oversized.toSeq: _*))
      oversized.foldLeft(kept) { (acc, cid) =>
        val cell = snap.filter(col("cid") === cid).select(col("id"), col("v"))
        // A cell that the sub-quantizer cannot separate (all rows to one sub-cid)
        // recurses with the same size until depth runs out — identical vectors are
        // the only such case, and for them all-pairs is the true answer anyway.
        val sub = splitCells(cell, nlist, lloydIters, maxCellSize, depth - 1)
          .withColumn("cid", concat_ws("/", lit(cid), col("cid")))
        acc.unionByName(sub)
      }
    }
  }

  // ------------------------------------------------------- embedding-space curation

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural scaling laws:
    * beating power law scaling via data pruning", arXiv:2206.14486): cluster the
    * embedding space with the deterministic IVF quantizer
    * ([[Similarity.buildCentroids]] — md5-sampled seeds, optional Lloyd refinement),
    * score every vector by cosine similarity to its cell centroid (its
    * PROTOTYPICALITY — how central/"easy" the example is), and DROP the most
    * prototypical `fraction` of every cell, keeping the informative tail. The
    * paper's finding: in the abundant-data regime, pruning EASY examples beats
    * random pruning — the complement of [[semanticDedup]], which removes
    * redundancy rather than centrality.
    *
    * Scale shape: the centroid table broadcasts (nlist rows); assignment and
    * scoring are map-only; the only wide operation is one rank window per cell —
    * pick `nlist` so cells fit a partition (√N, the IVF guidance; a skewed
    * quantizer degrades one task's sort, never correctness). With `lloydIters = 0`
    * the scoring centroids are the RAW md5-sampled corpus vectors, so an external
    * engine replays clustering, scoring, and rank relationally (the p15 oracle);
    * `fraction` should be exactly binary-representable (0.5, 0.25) when
    * cross-engine replay matters. Returns kept rows as (id, cid, rk, n): rank 1 =
    * most prototypical in its cell, n = cell size.
    */
  def prototypicalityPrune(
      corpus: DataFrame, fraction: Double, nlist: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(fraction >= 0.0 && fraction < 1.0, s"fraction must be in [0,1): $fraction")
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).alias("id"), col(vecCol).alias("v"))
    val unit = Similarity.buildCentroids(c, nlist, lloydIters)
    // Assignment ranks by dot against UNIT centroids (== cosine ranking); the score
    // itself is computed against the raw seed when no Lloyd step moved it, so the
    // oracle's list_cosine_similarity sees the very same operand vectors.
    val scoreCents =
      if (lloydIters <= 0) Similarity.seedCentroids(c, nlist) else unit
    val centDf = spark.createDataFrame(scoreCents).toDF("cid", "centroid")
    val assigned = c.withColumn("cid", Similarity.argmaxCid(col("v"), unit))
      .join(broadcast(centDf), "cid")
      .withColumn("proto", Similarity.cosineNative(col("v"), col("centroid")))
    val rank = Window.partitionBy("cid").orderBy(col("proto").desc, col("id"))
    assigned
      .withColumn("rk", row_number().over(rank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cid")))
      .filter(col("rk") > floor(col("n") * fraction))
      .select(col("id"), col("cid"), col("rk"), col("n"))
  }

  /** Cluster-balanced sampling (the DataComp/DCLM diversity shape): quantize the
    * embedding space and keep at most `perCluster` members of every cell, chosen
    * in deterministic md5(id) order — a topic-balanced subsample where
    * over-represented regions (boilerplate clusters) are capped and rare regions
    * survive whole. Same deterministic quantizer as [[prototypicalityPrune]];
    * selection reuses [[topKPerKey]], so a degenerate quantizer (one hot cell)
    * costs a salted two-phase top-K, never a single-task sort. Returns (id, cid).
    */
  def clusterBalancedSample(
      corpus: DataFrame, perCluster: Int, nlist: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive: $perCluster")
    val c = corpus.select(col(idCol).alias("id"), col(vecCol).alias("v"))
    val unit = Similarity.buildCentroids(c, nlist, lloydIters)
    val assigned = c.withColumn("cid", Similarity.argmaxCid(col("v"), unit))
    topKPerKey(assigned, "cid",
        Seq(md5(col("id").cast("string")), col("id")), perCluster)
      .select(col("id"), col("cid"))
  }

  // ---------------------------------------------------------------- incremental dedup

  /** Dedup a NEW snapshot against an already-curated corpus without re-reading the
    * corpus bodies: drop new documents whose content fingerprint appears in
    * `existingFingerprints` (a one-column frame of fingerprints — the stored dedup
    * index), then exact-dedup within the batch. The daily-crawl incremental path:
    * the existing corpus contributes 32 hex chars per document, not its text.
    *
    * Scale shape: fingerprint anti-join shuffles (id, fp) pairs only; at 100 TB the
    * fingerprint index is ~3 orders of magnitude smaller than the corpus and can be
    * bucketed by fp so repeated daily runs co-locate without re-shuffling the index.
    */
  def incrementalDedup(
      newDocs: DataFrame, existingFingerprints: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val fpCol = existingFingerprints.columns.head
    val withFp = newDocs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val fresh = withFp.join(
      existingFingerprints.select(col(fpCol).alias("__fp")), Seq("__fp"), "left_anti")
    Dedup.exact(fresh.drop("__fp"), textCol, idCol)
  }

  /** [[incrementalDedup]] with a Bloom-filter pre-probe — the steady-state shape
    * where most batch documents are genuinely new. A Bloom filter over the
    * fingerprint index (built in one pass, broadcast once) classifies each batch row
    * map-side: "definitely not indexed" rows bypass the anti-join entirely, and only
    * the maybe-seen sliver — true duplicates plus an `fpp` fraction of the batch —
    * shuffles against the index. Bloom filters have no false negatives and the
    * false positives are resolved by the exact join, so the result is IDENTICAL to
    * [[incrementalDedup]] (the driver oracle checks this equality, not an
    * approximation).
    *
    * At 100 TB: the index relation never joins against the full batch again — the
    * join's left side shrinks from |batch| to ~fpp·|batch|, and the filter itself
    * (~1.2 GB per billion fingerprints at 1 % fpp) broadcasts like any dimension
    * table. `expectedItems` defaults to the index count (one cheap `count()`);
    * pass it explicitly when the caller already tracks index cardinality.
    */
  def incrementalDedupBloom(
      newDocs: DataFrame, existingFingerprints: DataFrame,
      textCol: String, idCol: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val fpCol = existingFingerprints.columns.head
    // the index fingerprints feed THREE consumers — the sizing count, the Bloom
    // build, and the exact anti-join — and the batch fingerprints feed two
    // (probe-split branches). Snap both spill-safely so the fingerprint scan
    // (regex + md5, the dominant per-row cost) runs once per side, not 3x/2x.
    // Both snaps stay registered with the shared CacheManager until unpersist()
    // or clearCache(), not until the caller drops the result; only a repeat over
    // an identical input plan reuses them (cf. Dedup.minHashNearDup, ROADMAP
    // item 5).
    val fps = existingFingerprints.select(col(fpCol).alias("__fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = if (expectedItems > 0) expectedItems else math.max(fps.count(), 1L)
    val bloom = spark.sparkContext.broadcast(
      fps.select(xxhash64(col("__fp")).alias("__fpl"))
        .stat.bloomFilter("__fpl", n, fpp))
    val withFp = newDocs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.MightContainBloom(
        org.apache.spark.sql.graft.Bridge.toExpression(spark, xxhash64(col("__fp"))),
        bloom))
    val definitelyFresh = withFp.filter(!probe)
    val resolved = withFp.filter(probe).join(fps, Seq("__fp"), "left_anti")
    Dedup.exact(definitelyFresh.unionByName(resolved).drop("__fp"), textCol, idCol)
  }

  /** One batch of ONLINE near-duplicate curation against an accumulating index —
    * the hamming-k streaming shape [[graft.streaming.EventStreams.nearDedupStream]]
    * (signature identity) cannot express, run per micro-batch via `foreachBatch`.
    *
    * The index stores, per already-accepted document, its LSH band hashes
    * (`bands` longs) and its shingle-hash set — never text. A batch document is
    * dropped if it near-matches (MinHash-LSH candidates, exact-Jaccard verified)
    * (a) any indexed document, or (b) an earlier-id document in its own batch —
    * the online "first occurrence wins" rule. Chains that drift across the
    * threshold (A~B, B~C, but not A~C) resolve greedily in id order, as any
    * online dedup must; the batch connected-components pass
    * ([[connectedComponents]]) is the offline reconciliation of that drift.
    *
    * Returns (survivors, their index rows). The caller appends the index rows to
    * the index store and the survivors to the curated sink; per-batch cost tracks
    * batch size × index candidate density, never corpus size.
    */
  def incrementalNearDedup(
      batch: DataFrame, index: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 16, threshold: Double = 0.7)
      : (DataFrame, DataFrame) = {
    // one fused scan produces sets + signatures (the regex normalization runs
    // once); every subtree below reads this single persisted projection
    val both = Dedup.setsAndMinHash(batch, textCol, idCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = both.select(col("id"), col("s"))
    val batchBands = Dedup.bandHashArray(both, k, bands)
    // in-batch: a doc matching an earlier (lower-id) batch doc drops
    val inDups = Dedup.verifyJaccardSets(
        Dedup.lshCandidates(both, k, bands), sets, threshold)
      .select(col("id_b").alias("id"))
    // vs index: a doc matching any accepted doc drops
    val vsIndex = Dedup.verifyJaccardSetsAcross(
        Dedup.lshCandidatesAcross(batchBands, index.select(col("id"), col("bands"))),
        sets, index.select(col("id"), col("s")), threshold)
      .select(col("id_a").alias("id"))
    // dropped ids feed BOTH outputs (survivor anti-join and index-row anti-join);
    // persisting the id set (8 bytes/row) keeps the two verify pipelines single-run
    val dropped = inDups.union(vsIndex).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors = batch
      .join(dropped.select(col("id").alias(idCol)), Seq(idCol), "left_anti")
    val indexRows = batchBands
      .join(dropped, Seq("id"), "left_anti")
      .join(sets, "id")
      .select(col("id"), col("bands"), col("s"))
    (survivors, indexRows)
  }

  /** Empty index frame with [[incrementalNearDedup]]'s storage schema. */
  def emptyNearDupIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType),
        StructField("bands", ArrayType(LongType, containsNull = false)),
        StructField("s", ArrayType(LongType, containsNull = false)))))
  }

  // ---------------------------------------------------------------- weighted mixing

  /** Deterministic weighted corpus mixing: keep each row with probability
    * `rates(key)` — the domain-reweighting step of a training mix (DoReMi-style
    * domain weights applied to a crawl). The keep/drop decision is the row's
    * md5-derived uniform in [0,1) compared against its key's rate, so the sample is
    * reproducible across runs AND engines (no RNG state), and re-running with a
    * raised rate strictly grows the previous sample (nested samples — the property
    * that lets a pipeline dial a domain up without resampling everything).
    *
    * `rates` is a small (key, rate) frame — domain-count-sized — broadcast to the
    * corpus; sampling is then a pure map stage over the scan.
    */
  def weightedMix(
      df: DataFrame, keyCol: String, idCol: String, rates: DataFrame): DataFrame = {
    val Array(rk, rr) = rates.columns.take(2)
    val u = (Dedup.md5Hash60(col(idCol).cast("string")) % 1000000L).cast("double") /
      1000000.0
    df.join(broadcast(rates.select(col(rk).alias(keyCol), col(rr).alias("__rate"))),
        Seq(keyCol))
      .filter(u < col("__rate"))
      .drop("__rate")
  }

  /** Temperature-style domain rebalancing: keep each row of domain `d` with rate
    * `min(1, scale / sqrt(n_d))` — the α = 0.5 corner of the `p_d ∝ n_d^α` sampling
    * temperature used to flatten head-heavy corpus mixes (big domains are
    * downsampled toward `scale·sqrt(n_d)` docs, tail domains kept whole). `scale`
    * is the calibration knob: expected output size is `Σ_d min(n_d, scale·sqrt(n_d))`.
    *
    * α is fixed at 0.5 deliberately: IEEE-754 `sqrt` is exactly rounded on every
    * platform (unlike `pow`/`exp`/`log`), so the per-domain rate — and therefore
    * the md5-threshold keep/drop decision — is bit-identical across engines, which
    * keeps this operator oracle-checkable and run-to-run reproducible.
    *
    * Scale shape: one count aggregation collapsing to |domains| rows (map-side
    * partial), broadcast back; sampling itself is [[weightedMix]]'s pure map stage.
    */
  def temperatureMix(
      df: DataFrame, keyCol: String, idCol: String, scale: Double): DataFrame = {
    val rates = df.groupBy(col(keyCol))
      .agg(count(lit(1)).alias("__n"))
      .select(col(keyCol),
        least(lit(1.0), lit(scale) / sqrt(col("__n").cast("double"))).alias("__rate"))
    weightedMix(df, keyCol, idCol, rates)
  }

  /** Token-budget mixing with epoch upsampling — the "mixture weights → actual
    * training set" step (the static-weight shape of DoReMi, arXiv:2305.10429,
    * and the published Dolma/Pile mixing tables): given a per-domain weight
    * table and a TOTAL token budget, each domain `d` is allotted
    * `T_d = budget · w_d / Σw` tokens, i.e. a repetition rate
    * `rate_d = min(maxEpochs, T_d / tokens_d)`. Unlike [[weightedMix]] /
    * [[temperatureMix]] (which only sample DOWN), a rate above 1 REPEATS the
    * under-weighted domain: every row is emitted with `epoch` 0..⌊rate⌋−1
    * unconditionally, plus epoch ⌊rate⌋ with probability frac(rate) via the
    * corpus-standard md5 unit hash over `id:epoch` (deterministic,
    * oracle-reproducible, decorrelated from the plain-`id` samplers p4/p5
    * share). `maxEpochs` caps tiny-domain repetition — unbounded epoching of
    * a small domain degrades models faster than under-weighting it.
    *
    * Scale shape: one partial-combining count aggregation collapsing to
    * |domains| rows, a broadcast join of that rate table, then a pure map-side
    * explode whose fan-out is ≤ maxEpochs — no corpus-sized shuffle anywhere,
    * so the operator is safe at any corpus size the scan itself survives.
    */
  def tokenBudgetMix(
      df: DataFrame, keyCol: String, idCol: String, tokensCol: String,
      weights: DataFrame, budget: Long, maxEpochs: Double = 8.0): DataFrame = {
    require(weights.columns.length >= 2,
      s"tokenBudgetMix: weights needs (domain, weight) columns, got ${weights.columns.mkString(",")}")
    val Array(wk, wv) = weights.columns.take(2)
    val w = weights.select(col(wk).alias(keyCol), col(wv).cast("double").alias("__w"))
    // domain-count-bounded collects below: the weight table is configuration,
    // not data, and each check names its misconfiguration instead of letting
    // it surface later as garbage epochs or silent max-upsampling
    val badW = w.filter(col("__w").isNull || col("__w") <= 0).limit(1).collect()
    require(badW.isEmpty,
      s"tokenBudgetMix: every weight must be > 0; domain ${badW.headOption.map(_.get(0)).orNull} " +
        s"has weight ${badW.headOption.map(_.get(1)).orNull}")
    val totRow = w.agg(sum(col("__w"))).first()
    require(!totRow.isNullAt(0) && totRow.getDouble(0) > 0,
      "tokenBudgetMix: weights table is empty")
    val totW = totRow.getDouble(0)
    val toks = df.groupBy(col(keyCol))
      .agg(sum(col(tokensCol).cast("long")).alias("__n"))
    // a domain with zero or all-NULL tokens would divide to Infinity (or NULL,
    // which least() skips) and silently take rate = maxEpochs — the corrupt
    // domain is exactly the one that must NOT be max-upsampled
    val badN = toks.join(w, Seq(keyCol))
      .filter(col("__n").isNull || col("__n") <= 0).limit(1).collect()
    require(badN.isEmpty,
      s"tokenBudgetMix: domain ${badN.headOption.map(_.get(0)).orNull} has no tokens " +
        s"(sum(${tokensCol}) = ${badN.headOption.map(_.get(1)).orNull})")
    val rates = toks
      .join(w, Seq(keyCol))
      .select(col(keyCol),
        least(lit(maxEpochs),
          (lit(budget.toDouble) * col("__w") / lit(totW)) / col("__n").cast("double"))
          .alias("__rate"))
    val u = (Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":"),
      col("__fe").cast("string"))) % 1000000L).cast("double") / 1000000.0
    df.join(broadcast(rates), Seq(keyCol))
      .withColumn("__fe", floor(col("__rate")).cast("int"))
      .withColumn("epoch", explode(concat(
        when(col("__fe") > 0, sequence(lit(0), col("__fe") - 1))
          .otherwise(array().cast("array<int>")),
        when(u < col("__rate") - col("__fe"), array(col("__fe")))
          .otherwise(array().cast("array<int>")))))
      .drop("__rate", "__fe")
  }

  // ------------------------------------------------------ dup-cluster components

  /** Connected components over a pair table — the step every near-dup pipeline needs
    * after pair generation: `(id_a, id_b)` pairs from MinHash/SimHash/SemDeDup are
    * EDGES, and "keep one document per duplicate group" requires collapsing them into
    * components (A~B, B~C ⇒ {A,B,C} is one group even though (A,C) was never emitted).
    * Returns `(id, component)` for every id appearing in a pair, where `component` is
    * the smallest id in its connected component — the canonical representative.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — converges in O(log n) rounds
    * on any graph (vs O(diameter) for naive label propagation, which dies on pair
    * chains), and each round is aggregate + self-join on the SAME key, so per-round
    * state is one min per node, never a neighbor list (a celebrity node with 10⁸
    * duplicate edges costs 8 bytes of agg buffer, not an OOM).
    *
    * Each round is checkpointed: iterative plans otherwise nest one Exchange tree
    * per round (analysis cost grows quadratically) and a failure would recompute the
    * whole chain. `reliable = false` uses `localCheckpoint` (executor-local blocks —
    * fastest, fine for local mode and short jobs); `reliable = true` uses
    * `checkpoint()` against `spark.sparkContext.setCheckpointDir` (HDFS/object-store
    * backed) so a cluster run survives executor loss mid-iteration — the right
    * setting for a 100 TB job whose iteration chain is hours long.
    *
    * Adaptive small-graph path: after dedup, an edge set of at most `localSolveMax`
    * rows is collected and solved with driver union-find in ONE job — near-dup pair
    * graphs are usually corpus-tiny (pairs, not documents), and the star rounds pay
    * ~6 driver-looped job waves of fixed overhead regardless of data size. The
    * labels are identical by construction (component = minimum member). Set
    * `localSolveMax = 0` to force the distributed path; the default (1M edges ≈
    * 16 MB of longs) is far below any driver's collect ceiling.
    */
  /** Which path the last [[connectedComponents]] call took (key "cc"):
    * `local(<n> edges)` or `distributed(<rounds> rounds)` — observable for the
    * scale smoke's dispatch-crossover report, like [[Dedup.lastDispatch]].
    */
  private[graft] val lastDispatch =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 50, reliable: Boolean = false,
      localSolveMax: Long = 1000000L): DataFrame = {
    Snapshot.requireCheckpointDir(pairs, reliable, "connectedComponents")
    val Array(ca, cb) = pairs.columns.take(2)
    val deduped = pairs
      .select(col(ca).alias("u"), col(cb).alias("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    if (localSolveMax > 0) {
      // one pass decides the path; limit(n+1) bounds the probe so an oversized
      // graph never collects more than the threshold
      val probe = deduped.limit(
        (math.min(localSolveMax, Int.MaxValue - 1L) + 1).toInt).collect()
      if (probe.length <= localSolveMax) {
        lastDispatch.put("cc", s"local(${probe.length} edges)")
        return localComponents(pairs.sparkSession, probe, deduped.schema.head.dataType)
      }
    }
    var edges = Snapshot.snap(deduped, reliable)

    // (count, hash-xor) fingerprint of the canonically-oriented edge set: iteration
    // stops when two consecutive rounds produce the same set. XOR is
    // order-independent and overflow-free (the edge set is distinct, so no pair
    // cancels itself).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(least(col("u"), col("v")),
          greatest(col("u"), col("v")))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: per node u over BOTH edge directions, link every larger neighbor
    // to m = min(N(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").alias("u"), col("u").alias("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), col("u")).alias("m"))
      nbrs.filter(col("v") > col("u"))
        .join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").alias("u"), col("m").alias("v"))
        .distinct()
    }

    // small-star: orient each edge large→small, link every smaller neighbor (and u
    // itself) to the smallest neighbor.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(
        greatest(col("u"), col("v")).alias("u"), least(col("u"), col("v")).alias("v"))
      val mins = o.groupBy("u").agg(min(col("v")).alias("m"))
      val relink = o.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").alias("u"), col("m").alias("v"))
      relink.union(mins.select(col("u"), col("m").alias("v"))).distinct()
    }

    var prev = fingerprint(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      edges = Snapshot.snap(smallStar(largeStar(edges)), reliable)
      val cur = fingerprint(edges)
      converged = cur == prev
      prev = cur
      it += 1
    }
    lastDispatch.put("cc", s"distributed($it rounds)")
    // At the fixed point every component is a star rooted at its minimum id and
    // small-star left edges oriented member→root.
    edges.select(col("u").alias("id"), col("v").alias("component"))
      .union(edges.select(col("v").alias("id"), col("v").alias("component")))
      .distinct()
  }

  /** Driver union-find over a collected edge set — the small-graph fast path of
    * [[connectedComponents]]. component = minimum member via iterative find with
    * path compression (no recursion: a collected million-edge chain must not blow
    * the stack); ids compare through their natural `Comparable` ordering, the same
    * ordering the distributed `least`/`min` use, so labels are identical.
    */
  private def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def less(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    def find(x: Any): Any = {
      parent.getOrElseUpdate(x, x)
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) { if (less(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toSeq.map(k => org.apache.spark.sql.Row(k, find(k)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](out.asJava), schema)
  }

  // ------------------------------------------------------ leakage-safe splits

  /** Leakage-safe train/val/test split: assign every document a split such that
    * NEAR-DUPLICATE documents always land in the SAME split. A plain per-document
    * hash split leaks — a training doc's near-copy in the eval split makes the
    * eval measure memorization, not generalization (the failure Lee et al. 2022
    * measured on C4: up to 4.6% of eval examples had a training near-dup). The fix
    * is to split by DUP-CLUSTER, not by document: collapse the near-dup pair graph
    * into connected components, then hash the component's canonical id into
    * weighted split buckets, so an entire cluster moves together.
    *
    * `pairs` is any near-dup edge list (e.g. [[Dedup.minHashNearDup]] output);
    * `weights` are integer bucket weights (default 8/1/1). The hash is the
    * RNG-free md5-bucket scheme shared with hash sampling (`Dedup.md5Hash60`):
    * deterministic and engine-reproducible. STABILITY CAVEAT: the bucket is
    * keyed on the component's minimum member id, so an assignment survives
    * corpus growth only while its cluster's minimum does — a new doc with a
    * smaller id, or an edge merging two clusters, re-keys the component and can
    * move previously-assigned docs (and a merge MUST move one side: the merged
    * cluster needs one split, and the two halves may have held different ones).
    * Once anything has trained on a split, use [[leakageSafeSplitIncremental]],
    * which pins prior assignments and flags merge conflicts instead of silently
    * moving documents.
    *
    * Returns `(idCol, component, split)` for every document in `docs` (singletons
    * are their own component).
    *
    * Scale shape: connected components is the O(log n) large/small-star loop over
    * 16-byte edges ([[connectedComponents]]); the join-back to the corpus is one
    * equi-join on the document id in which the CC side holds only PAIRED docs
    * (near-dup-cluster-sized, far smaller than the corpus — broadcastable in most
    * deployments); the bucket assignment is a map stage. No stage shuffles
    * document text.
    */
  def leakageSafeSplit(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      weights: Seq[(String, Int)] = Seq(("train", 8), ("val", 1), ("test", 1))): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty positive integer buckets")
    val cc = connectedComponents(pairs)
      .select(col("id").alias(idCol), col("component"))
    val withComp = docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val total = weights.map(_._2).sum
    val bucket = pmod(Dedup.md5Hash60(col("component").cast("string")), lit(total))
    // Chained when over ascending cumulative thresholds; the last split is the
    // otherwise-arm so every bucket lands somewhere.
    val cums = weights.init.scanLeft(0) { case (c, (_, w)) => c + w }.tail
    val splitExpr = weights.init.zip(cums) match {
      case Seq() => lit(weights.last._1)
      case ((n0, _), c0) +: rest =>
        rest.foldLeft(when(bucket < lit(c0), lit(n0))) {
          case (acc, ((name, _), cum)) => acc.when(bucket < lit(cum), lit(name))
        }.otherwise(lit(weights.last._1))
    }
    withComp.withColumn("split", splitExpr)
  }

  /** [[leakageSafeSplit]] for a GROWING corpus with training already underway:
    * documents present in `prior` (`idCol`, `split`) NEVER move — a doc a model
    * has trained on cannot retroactively become eval — and new documents
    * joining a cluster that contains prior docs ADOPT the cluster's existing
    * split (taken from the prior member with the smallest id, deterministic)
    * rather than re-hashing, even when the newcomer re-keys the component
    * minimum. Only documents in clusters with no prior members get a fresh
    * md5-bucket assignment.
    *
    * When an edge merges clusters whose prior members hold DIFFERENT splits,
    * the leak already happened in the data (near-dups straddle train/eval from
    * the earlier rounds); pinning cannot fix it retroactively, so prior docs
    * keep their splits and every doc in such a component is flagged
    * `prior_conflict = true` — the caller's signal to quarantine those eval
    * docs. Returns `(idCol, component, split, prior_conflict)`.
    *
    * Scale shape: adds to [[leakageSafeSplit]] one aggregation of the prior
    * frame per component (id-and-split columns only) and one equi-join back —
    * no text moves; `prior` is read once.
    */
  def leakageSafeSplitIncremental(
      docs: DataFrame, pairs: DataFrame, idCol: String, prior: DataFrame,
      weights: Seq[(String, Int)] = Seq(("train", 8), ("val", 1), ("test", 1))): DataFrame = {
    val fresh = leakageSafeSplit(docs, pairs, idCol, weights)
      .withColumnRenamed("split", "__fresh_split")
    val p = prior.select(col(idCol), col("split").alias("__prior_split"))
    val withPrior = fresh.join(p, Seq(idCol), "left")
    // Per component: the anchor split (prior member with the smallest id) and
    // whether prior members disagree.
    val anchor = withPrior.filter(col("__prior_split").isNotNull)
      .groupBy(col("component"))
      .agg(
        min_by(col("__prior_split"), col(idCol)).alias("__anchor_split"),
        (count_distinct(col("__prior_split")) > 1).alias("prior_conflict"))
    withPrior.join(anchor, Seq("component"), "left")
      .withColumn("split",
        coalesce(col("__prior_split"), col("__anchor_split"), col("__fresh_split")))
      .withColumn("prior_conflict", coalesce(col("prior_conflict"), lit(false)))
      .select(col(idCol), col("component"), col("split"), col("prior_conflict"))
  }

  // ------------------------------------------------------ line-level boilerplate

  /** CCNet-style line-level dedup: drop every line that appears (identically) in at
    * least `minDocFreq` distinct documents — navigation menus, cookie banners,
    * "subscribe" footers — and rebuild each document from its surviving lines.
    * Returns `(id, n_lines, cleaned)`; documents whose every line was boilerplate
    * drop out entirely (nothing survives to rebuild).
    *
    * Scale shape: document frequency aggregates over (id, line-hash) pairs — 8-byte
    * xxhash64 keys, never line text — and the frequent-line set is
    * boilerplate-sized by definition (lines repeated across ≥ minDocFreq documents),
    * so membership is a BROADCAST anti-join: tagging is map-only over the corpus.
    * The one corpus-sized shuffle is the per-document rebuild, which any engine
    * must pay to emit rewritten documents.
    */
  def dedupLines(
      df: DataFrame, textCol: String, idCol: String, minDocFreq: Int,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).alias("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("ix", "line")))
    val freq = lines.select(col("id"), xxhash64(col("line")).alias("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).alias("df"))
      .filter(col("df") >= minDocFreq)
      .select("__h")
    lines
      .join(broadcast(freq), xxhash64(col("line")) === col("__h"), "left_anti")
      .groupBy("id")
      .agg(
        count(lit(1)).alias("n_lines"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("ix"), col("line")))),
          s => s.getField("line"))).alias("cleaned"))
  }

  // ------------------------------------------------------------- data selection

  /** Hashed n-gram seed-affinity scoring — the DSIR shape (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): featurize documents
    * as hashed n-grams into a FIXED number of buckets, build a bucket-weight table
    * from a seed corpus (the high-quality target distribution), and score every
    * candidate document as the sum of its distinct grams' bucket weights. Selecting
    * the top-scored documents biases the corpus toward the seed's distribution.
    *
    * Weights here are integer seed-corpus gram counts, so scores are exact long
    * sums — order-independent, reproducible in any engine (true DSIR uses
    * log-likelihood ratios; a ratio of two of these scores under different seeds
    * recovers that up to the log).
    *
    * Scale shape: the weight table is AT MOST `buckets` rows regardless of seed
    * size (hashing bounds it — that is DSIR's trick), so it broadcasts; scoring is
    * explode → broadcast join → per-doc sum, with only (id, weight) longs in the
    * aggregation. The bucket hash is md5-derived ([[Dedup.md5Hash60]]) so external
    * engines replicate it bit-for-bit.
    */
  def seedAffinityScores(
      corpus: DataFrame, seed: DataFrame, textCol: String, idCol: String,
      n: Int = 2, buckets: Int = 65536): DataFrame = {
    val weights = Dedup.shingles(seed, textCol, idCol, n)
      .select((Dedup.md5Hash60(col("shingle")) % buckets).alias("bucket"))
      .groupBy("bucket").agg(count(lit(1)).alias("w"))
    Dedup.shingles(corpus, textCol, idCol, n)
      .select(col("id"), (Dedup.md5Hash60(col("shingle")) % buckets).alias("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).alias("n_grams"),
        coalesce(sum(col("w")), lit(0L)).alias("seed_hits"))
  }

  /** Model-based quality filtering with a two-class lexical classifier — the
    * GPT-3/FineWeb-Edu pipeline stage (Brown et al. 2020 §A; Penedo et al. 2024)
    * in its hashed bag-of-n-grams form: train per-bucket counts on a POSITIVE seed
    * (the quality target) and a NEGATIVE seed (the reject distribution), give each
    * bucket an integer majority vote, and score every candidate document as the
    * sum of its distinct grams' votes.
    *
    * A bucket votes `+1` when its relative frequency is higher in the positive
    * seed than the negative (`c⁺ · N⁻ > c⁻ · N⁺` — the frequency-ratio comparison
    * as an integer cross-multiplication, no division), `−1` when lower, `0` on
    * ties and unseen buckets. Scores are exact long sums of {−1,0,+1}, so the
    * keep/drop verdict (`score > 0`) is bit-identical in any engine — the
    * cross-engine-verifiable stand-in for a logistic regression's real-valued
    * logit, with the same featurization and the same decision boundary shape.
    *
    * Scale shape is [[seedAffinityScores]]'s: both count tables are at most
    * `buckets` rows however large the seeds grow, the vote table broadcasts, and
    * scoring is explode → broadcast join → per-doc sum with only `(id, vote)`
    * longs in the aggregation shuffle. Corpus documents with fewer than `n` words
    * produce no grams and are absent from the output (no text, no verdict).
    */
  def qualityClassifierScores(
      corpus: DataFrame, seedPos: DataFrame, seedNeg: DataFrame,
      textCol: String, idCol: String,
      n: Int = 2, buckets: Int = 65536): DataFrame = {
    def bucketCounts(seed: DataFrame, cnt: String): DataFrame =
      Dedup.shingles(seed, textCol, idCol, n)
        .select((Dedup.md5Hash60(col("shingle")) % buckets).alias("bucket"))
        .groupBy("bucket").agg(count(lit(1)).alias(cnt))
    val pos = bucketCounts(seedPos, "cp")
    val neg = bucketCounts(seedNeg, "cn")
    // coalesce: an EMPTY seed sums to null — treat it as 0 (the ratio comparison
    // then degenerates to all-neutral votes instead of an NPE at plan-build time)
    val np = pos.agg(coalesce(sum(col("cp")), lit(0L))).head.getLong(0)
    val nn = neg.agg(coalesce(sum(col("cn")), lit(0L))).head.getLong(0)
    val votes = pos.join(neg, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        signum(coalesce(col("cp"), lit(0L)) * nn -
          coalesce(col("cn"), lit(0L)) * np).cast("long").alias("vote"))
    Dedup.shingles(corpus, textCol, idCol, n)
      .select(col("id"), (Dedup.md5Hash60(col("shingle")) % buckets).alias("bucket"))
      .join(broadcast(votes), Seq("bucket"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).alias("n_grams"),
        coalesce(sum(col("vote")), lit(0L)).alias("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** CCNet-style seed-LM surprisal scoring (Wenzek et al. 2020): train hashed
    * n-gram and context ((n−1)-gram) count tables on a seed corpus, then score
    * every candidate document by its total conditional surprisal under that model —
    * the perplexity-filter shape (keep the low-surprisal head, drop gibberish and
    * out-of-domain tails). Complements [[seedAffinityScores]]: DSIR sums raw
    * bucket hits; this scores `−log P(w_n | context)` per gram, the LM view.
    *
    * The per-gram model is add-one (Laplace) smoothed over the bucket vocabulary:
    * `P(w | ctx) = (c_gram + 1) / (c_ctx + V)` with `V = buckets`, so surprisal is
    * `qlog2(V + c_ctx) − qlog2(1 + c_gram)` — fully-OOV grams cost ~log2 V bits
    * (gibberish scores HIGH, as it must), frequent continuations approach 0.
    *
    * Determinism: probabilities are quantized to integer log2s —
    * `qlog2(x) = length(bin(x)) − 1 = floor(log2 x)` — making every per-gram
    * surprisal an INTEGER; per-doc scores are exact long sums, bit-identical in any
    * engine (float `ln` is not exactly rounded and would hash-diverge). Mean
    * surprisal `surprisal_q / n_grams` rank-correlates with the float perplexity
    * CCNet uses; the quantization is the price of cross-engine verifiability.
    *
    * Scale shape: both count tables are AT MOST `buckets` rows regardless of seed
    * size (the DSIR hashing trick) so they broadcast; scoring is one map-side
    * explode → two broadcast joins → per-doc sum, with only (id, int) pairs in the
    * aggregation shuffle. Every corpus document gets a row — documents shorter
    * than `n` words score (n_grams = 0, surprisal_q = 0).
    */
  def seedLmSurprisal(
      corpus: DataFrame, seed: DataFrame, textCol: String, idCol: String,
      n: Int = 2, buckets: Int = 1 << 20): DataFrame = {
    require(n >= 2, "seedLmSurprisal needs n >= 2 (a context of n-1 words)")
    def qlog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    def bucketOf(c: Column): Column = Dedup.md5Hash60(c) % buckets
    // ONE tokenize pass + ONE shuffle for BOTH seed count tables: the n-gram and
    // (n−1)-gram bucket streams are tagged and counted in a single groupBy (the
    // two-call form re-ran the regex word normalization — the scan's dominant
    // per-row cost — over the seed split twice and paid two count shuffles).
    // The combined table is tiny (≤ distinct grams rows); persist it so the two
    // broadcast builds below read one materialization instead of re-executing
    // the seed scan each.
    def gramBuckets(width: Int, tag: Int): Column =
      when(size(col("__w")) >= width,
        transform(sequence(lit(0), size(col("__w")) - width),
          i => struct(lit(tag).alias("t"),
            bucketOf(concat_ws(" ", (0 until width).map(j =>
              element_at(col("__w"), i + j + 1)): _*)).alias("b"))))
        .otherwise(array().cast("array<struct<t:int,b:long>>"))
    val seedCounts = seed.select(Dedup.wordsArray(col(textCol)).alias("__w"))
      .select(explode(concat(
        gramBuckets(n, 1), gramBuckets(n - 1, 0))).alias("p"))
      .groupBy(col("p.t").alias("t"), col("p.b").alias("b"))
      .agg(count(lit(1)).alias("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gramTable = seedCounts.filter(col("t") === 1)
      .select(col("b"), col("c").alias("cn"))
    val ctxTable = seedCounts.filter(col("t") === 0)
      .select(col("b"), col("c").alias("cc"))
    val staged = corpus.select(col(idCol).alias("id"),
      Dedup.wordsArray(col(textCol)).alias("__w"))
    staged
      .select(col("id"), explode(when(size(col("__w")) >= n,
        transform(sequence(lit(0), size(col("__w")) - n),
          i => struct(
            concat_ws(" ", (0 until n).map(j =>
              element_at(col("__w"), i + j + 1)): _*).alias("g"),
            concat_ws(" ", (0 until n - 1).map(j =>
              element_at(col("__w"), i + j + 1)): _*).alias("ctx"))))
        .otherwise(array().cast("array<struct<g:string,ctx:string>>"))).alias("p"))
      .select(col("id"),
        bucketOf(col("p.g")).alias("bn"), bucketOf(col("p.ctx")).alias("bc"))
      .join(broadcast(gramTable), col("bn") === gramTable("b"), "left")
      .drop("b")
      .join(broadcast(ctxTable), col("bc") === ctxTable("b"), "left")
      .select(col("id"),
        (qlog2(lit(buckets.toLong) + coalesce(col("cc"), lit(0L))) -
          qlog2(lit(1) + coalesce(col("cn"), lit(0L)))).alias("s"))
      .groupBy("id")
      .agg(
        count(lit(1)).alias("n_grams"),
        sum(col("s")).alias("surprisal_q"))
      // documents shorter than n words have no grams but must still score — a
      // downstream filter would otherwise silently drop them from BOTH sides
      .join(staged.select(col("id")), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).alias("n_grams"),
        coalesce(col("surprisal_q"), lit(0L)).alias("surprisal_q"))
  }

  // ---------------------------------------------------------------- PII redaction

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone-shaped numbers from `textCol`, adding
    * per-type match counts. Pure codegen map stage (three `regexp_replace` + three
    * `regexp_count`) — the patterns are RE2-compatible (no lookarounds), so external
    * engines reproduce the redaction byte-for-byte.
    *
    * Order matters and is fixed: emails first (their local part may contain digits),
    * then IPs, then phones — the replacement tokens contain no digits, so later
    * patterns cannot match inside earlier redactions.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(emailRe)))
      .withColumn("n_ips", regexp_count(col(textCol), lit(ipv4Re)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(phoneRe)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), emailRe, "<EMAIL>"),
            ipv4Re, "<IP>"),
          phoneRe, "<PHONE>"))

  // ------------------------------------------------------------ snapshot diff

  /** Diff two corpus snapshots by primary key: one row per key whose
    * membership or content changed — `added` (in `cur` only), `removed` (in
    * `old` only), or `changed` (both sides, any compare column differs under
    * null-safe equality). Unchanged keys are dropped. The dataset-versioning
    * audit between releases: what moved, and how much.
    *
    * Scale shape: with `digest = true` (the default) each side is PROJECTED
    * map-side to `(key, xxhash64(compareCols))` before the full-outer join,
    * so the key shuffle carries ~16 bytes/row no matter how wide the
    * documents are — diffing a 100 TB text corpus moves only keys and
    * hashes. `digest = false` ships the compare columns through the join
    * instead (the externally-replayable form); CurationSpec pins both paths
    * identical (a disagreement would need an xxhash64 collision).
    */
  def snapshotDiff(
      old: DataFrame, cur: DataFrame, key: String,
      compareCols: Seq[String], digest: Boolean = true): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff: compareCols must be non-empty")
    def side(df: DataFrame, t: String): DataFrame =
      if (digest)
        df.select(col(key).as(s"${t}_k"),
          xxhash64(compareCols.map(col): _*).as(s"${t}_d"))
      else
        df.select(col(key).as(s"${t}_k") +:
          compareCols.map(c => col(c).as(s"${t}_$c")): _*)
    val o = side(old, "o")
    val c = side(cur, "c")
    val changed =
      if (digest) col("o_d") =!= col("c_d")
      else compareCols.map(cc => !(col(s"o_$cc") <=> col(s"c_$cc")))
        .reduce(_ || _)
    o.join(c, o("o_k") === c("c_k"), "full_outer")
      .select(
        coalesce(col("o_k"), col("c_k")).as(key),
        when(col("o_k").isNull, lit("added"))
          .when(col("c_k").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .as("change"))
      .where(col("change").isNotNull)
  }
}
