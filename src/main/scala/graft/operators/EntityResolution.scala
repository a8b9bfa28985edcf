package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution (record linkage).
  *
  * Training-data and warehouse pipelines both need "same real-world entity,
  * different spelling" matching — supplier/customer master-data dedup, author
  * disambiguation, near-identical metadata rows. All-pairs edit distance is
  * O(n²) and dead at 100 TB; the standard shape (Fellegi–Sunter style blocking,
  * as in Dedupe/Magellan/JedAI) is:
  *
  *   1. BLOCK: emit (key, id) per blocking key of the name; only ids sharing a
  *      key ever meet. One shuffle keyed by the blocking key.
  *   2. SKEW GUARD: drop blocks larger than `maxBlock` — an ultra-frequent key
  *      ("inc", "ltd") would reintroduce the quadratic blow-up. The cap makes
  *      per-block work bounded: ≤ maxBlock²/2 comparisons.
  *   3. VERIFY: a map-side Levenshtein filter on the candidate pairs — the
  *      only quadratic work left, confined inside surviving blocks.
  *
  * Blocking-key strength is the recall/scale dial (`blocking`):
  *   - `"token"`: single words. Highest recall, but under a FIXED vocabulary
  *     block sizes grow linearly with the corpus — every block eventually
  *     trips the cap (or the quadratic bound). Right for corpora whose token
  *     vocabulary grows with the data (real-world names).
  *   - `"bigram"` (default): adjacent word pairs, single-token names fall back
  *     to the token itself. Blocks are vocab²-sparse, so block SIZE is set by
  *     the duplication rate, not corpus growth. Recall contract: a pair is
  *     found iff it shares one INTACT bigram — a one-word typo leaves n−3
  *     intact bigrams in an n-word name (n ≥ 4 is safe; a middle-word typo in
  *     a 3-word name is the documented miss, pinned in EntityResolutionSpec) —
  *     the same explicit-recall-assumption style as the MinHash banding note
  *     at d9.
  *
  * Levenshtein is deterministic and engine-portable (Spark's `levenshtein` ==
  * DuckDB's `levenshtein`), so the whole pipeline is exactly oracle-checkable —
  * unlike similarity-score cutoffs on floats. Entity canonicalization composes
  * with [[Curation.connectedComponents]]: match pairs are edges, the component
  * minimum is the canonical id (transitive closure, O(log n) rounds).
  */
object EntityResolution {

  /** Blocking keys from the pre-computed `ws` word-array column. */
  private def blockKeys(blocking: String): Column =
    blocking match {
      case "token" => array_distinct(col("ws"))
      case "bigram" => array_distinct(
        when(size(col("ws")) >= 2,
          expr("transform(sequence(0, size(ws)-2), " +
            "i -> concat(element_at(ws, i+1), ' ', element_at(ws, i+2)))"))
          .otherwise(col("ws")))
      case other => throw new IllegalArgumentException(
        s"unknown blocking '$other' (expected token|bigram)")
    }

  /** Candidate pairs within blocks, verified by edit distance.
    *
    * @param df       one row per record.
    * @param nameCol  string column to match on (caller normalizes case/space).
    * @param idCol    unique record id (orderable; pairs are emitted id_a < id_b).
    * @param maxDist  keep pairs with levenshtein(name_a, name_b) <= maxDist.
    * @param maxBlock drop blocking keys shared by more than this many records;
    *                 a block at the cap holds one maxBlock-record posting, and its
    *                 pairs stream through the verify, never all held at once.
    * @param blocking `"bigram"` (default, scale-sane) or `"token"` (see above).
    *
    * Returns (id_a, id_b, name_a, name_b, dist), one row per matched pair.
    * A pair sharing k blocking keys is Levenshtein-scored k times map-side and
    * deduplicated AFTER the verify — the distinct exchange then carries the
    * (sparse) match set rather than the candidate set (see inline note).
    */
  def blockedFuzzyPairs(
      df: DataFrame,
      nameCol: String,
      idCol: String,
      maxDist: Int = 2,
      maxBlock: Int = 10000,
      blocking: String = "bigram"): DataFrame = {
    // ONE-SHUFFLE posting-list shape (r16; the pattern Dedup.cappedPostings /
    // bandCandidates already use): each block's records are gathered into a
    // size-bounded sorted posting by a single groupBy(tok) — the bounded
    // aggregator DROPS over-cap blocks in the agg buffer itself, so the old
    // count-aggregate + join-back + tok-keyed self-join (which scanned the
    // exploded key stream four times and paid three extra exchanges) is gone.
    // Pairs stream map-side off the sorted posting (CandidatePairs.within, id_a <
    // id_b by position) into the quadratic Levenshtein verify, in the SAME stage.
    val recs = df.select(col(idCol).alias("id"), col(nameCol).alias("name"))
      .withColumn("ws", filter(split(col("name"), " "), w => length(w) > 0))
    val toks = recs
      .select(col("id"), col("name"), explode(blockKeys(blocking)).alias("tok"))
    val postings = collectBlocks(toks.withColumn("side", lit(0)), maxBlock)
      .filter(size(col("ps")) >= 2)
    // VERIFY BEFORE DEDUP: a pair sharing k keys is Levenshtein-scored k times
    // (map-side CPU on short strings), but the distinct exchange then carries
    // only MATCHES — at the 10× smoke that is 5.3k rows instead of 3.6M
    // candidates, a ~700× smaller shuffle. The sparser the match set (every
    // real corpus), the more this ordering wins.
    //
    // The verify is CPU-bound (quadratic within blocks over BYTE-tiny rows),
    // so its parallelism must not fall to AQE's bytes-based coalescing, which
    // would collapse the small-but-hot posting shuffle to one partition (a
    // single-partition verify measured 8 s vs 1.9 s at sf0.1). The EXPLICIT-
    // count repartition is the one exchange AQE respects, and it carries the
    // bounded postings, not the candidate pairs.
    val parts = df.sparkSession.sparkContext.defaultParallelism
    CandidatePairs.within(postings.repartition(parts), "ps")
      .select(col("a._2").alias("id_a"), col("b._2").alias("id_b"),
        col("a._3").alias("name_a"), col("b._3").alias("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** One bounded-collect aggregation: `(tok, ps)` where `ps` is the block's
    * `(side, id, name)` posting sorted by (side, id) — NULL-dropped when the
    * block exceeds `maxBlock` records across BOTH sides combined (a key hot on
    * either side is what makes the block product explode).
    */
  private def collectBlocks(toks: DataFrame, maxBlock: Int): DataFrame = {
    val bounded = udaf(
      new graft.functions.Aggregators.BoundedSortedCollectRecs(maxBlock))
    toks.groupBy("tok")
      .agg(bounded(col("side"), col("id"), col("name")).alias("ps"))
      .filter(col("ps").isNotNull)
  }

  /** Two-table fuzzy linkage: match `left` records to `right` records through
    * the same block → cap → verify pipeline (the classic record-linkage shape:
    * incoming dirty records against a canonical catalog). Returns
    * (left_id, right_id, left_name, right_name, dist) — ALL verified matches;
    * compose with a `min_by(dist)`/row_number top-1 when a best-match link is
    * wanted. The block cap is applied to the COMBINED (left + right) key
    * frequency: a key hot on either side is what makes the block product
    * explode. A block at the cap holds postings of `maxBlock` records in all;
    * its left × right pairs stream through the verify, never all held at once.
    */
  def blockedFuzzyJoin(
      left: DataFrame,
      right: DataFrame,
      nameCol: String,
      idCol: String,
      maxDist: Int = 2,
      maxBlock: Int = 10000,
      blocking: String = "bigram"): DataFrame = {
    // same one-shuffle posting shape as blockedFuzzyPairs, with the two sides
    // tagged into ONE bounded collect (side 0 = left, 1 = right) — the cap
    // applies to the COMBINED block size exactly as the old union-count did,
    // and CandidatePairs.across streams the side-0 slice × the side-1 slice
    // map-side. verify-before-dedup + the explicit-count repartition: ditto.
    def toks(df: DataFrame, side: Int): DataFrame = df
      .select(col(idCol).alias("id"), col(nameCol).alias("name"))
      .withColumn("ws", filter(split(col("name"), " "), w => length(w) > 0))
      .select(col("id"), col("name"), explode(blockKeys(blocking)).alias("tok"),
        lit(side).alias("side"))
    val postings = collectBlocks(
        toks(left, 0).unionByName(toks(right, 1)), maxBlock)
      .select(
        filter(col("ps"), p => p.getField("_1") === 0).alias("ls"),
        filter(col("ps"), p => p.getField("_1") === 1).alias("rs"))
      .filter(size(col("ls")) >= 1 && size(col("rs")) >= 1)
    val parts = left.sparkSession.sparkContext.defaultParallelism
    CandidatePairs.across(postings.repartition(parts), "ls", "rs")
      .select(col("a._2").alias("left_id"), col("b._2").alias("right_id"),
        col("a._3").alias("left_name"), col("b._3").alias("right_name"))
      .withColumn("dist", levenshtein(col("left_name"), col("right_name")))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Incremental (online) entity resolution: one batch of incoming records
    * against an accumulated canonical catalog — the dedupe-on-ingest shape
    * (run per micro-batch under `foreachBatch`, like
    * [[Curation.incrementalNearDedup]] for documents):
    *
    *   1. batch records fuzzy-link to the catalog ([[blockedFuzzyJoin]]);
    *      of multiple matches the BEST wins — lowest distance, ties to the
    *      lowest catalog id (deterministic, engine-replayable).
    *   2. unmatched records resolve among THEMSELVES ([[canonicalEntities]] —
    *      two new spellings of one new entity arriving in the same batch must
    *      not mint two entities), and their component minima become new
    *      catalog rows.
    *
    * Transitivity closes among the UNMATCHED set only — by design: an
    * unmatched record within `maxDist` of a MATCHED sibling (but not of any
    * catalog row) mints a new entity rather than riding the sibling's link
    * into the catalog. Chasing that edge would make batch output depend on
    * intra-batch match order (and grow a per-batch closure over the matched
    * set); the miss self-heals on the next encounter, since the minted
    * representative is now IN the catalog. Pinned in EntityResolutionSpec.
    *
    * Returns (assignments, updatedCatalog): assignments = (id, entity_id) for
    * every batch record; updatedCatalog = catalog ∪ new canonical rows — feed
    * it to the next batch. The catalog only ever grows by NEW-entity
    * representatives, so catalog size tracks distinct entities, not records
    * ingested — the property that keeps the linkage join's right side
    * sub-corpus-sized at 100 TB.
    */
  def incrementalLink(
      batch: DataFrame,
      catalog: DataFrame,
      nameCol: String,
      idCol: String,
      maxDist: Int = 2,
      maxBlock: Int = 10000,
      blocking: String = "bigram",
      reliable: Boolean = false): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    Snapshot.requireCheckpointDir(batch, reliable, "incrementalLink")
    // `reliable` mirrors GraphOps.rankLoop's escape hatch: localCheckpoint
    // snaps are executor-local and unreplicated — fine for micro-batches (the
    // streaming caller additionally has a disk fallback), but a long cluster
    // batch can opt into checkpoint-dir-backed snaps instead.
    // links feeds BOTH returned frames (assignments union + the anti-join
    // deriving the unmatched set) and fresh feeds three subtrees — without a
    // materialization the block-join pipeline re-executes per consumer
    // (measured 10.0 s -> the checkpointed shape at sf0.1). localCheckpoint is
    // the CC hygiene: batch-sized artifacts, eager, lineage cut.
    val links = Snapshot.snap(blockedFuzzyJoin(batch, catalog, nameCol, idCol,
        maxDist, maxBlock, blocking)
      .withColumn("rn", row_number().over(
        Window.partitionBy("left_id").orderBy(col("dist"), col("right_id"))))
      .filter(col("rn") === 1)
      .select(col("left_id").alias("id"), col("right_id").alias("entity_id")), reliable)
    val unmatched = batch.join(
      links.select(col("id").alias(idCol)), Seq(idCol), "left_anti")
    val fresh = Snapshot.snap(canonicalEntities(unmatched, nameCol, idCol,
      maxDist, maxBlock, blocking), reliable)
    val assignments = links.union(fresh.select(col("id"), col("entity_id")))
    val updatedCatalog = catalog
      .select(col(idCol), col(nameCol))
      .union(fresh.filter(col("id") === col("entity_id"))
        .select(col("id").alias(idCol), col("name").alias(nameCol)))
    (assignments, updatedCatalog)
  }

  /** Canonical entity assignment: match pairs → transitive closure → each
    * record labeled with its component's minimum id. Records that match
    * nothing keep themselves as canonical (left join + coalesce — the closure
    * only ever sees the pair graph, never the full record set).
    */
  def canonicalEntities(
      df: DataFrame,
      nameCol: String,
      idCol: String,
      maxDist: Int = 2,
      maxBlock: Int = 10000,
      blocking: String = "bigram"): DataFrame = {
    val pairs = blockedFuzzyPairs(df, nameCol, idCol, maxDist, maxBlock, blocking)
      .select(col("id_a"), col("id_b"))
    val comp = Curation.connectedComponents(pairs)
    df.select(col(idCol).alias("id"), col(nameCol).alias("name"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), col("name"),
        coalesce(col("component"), col("id")).alias("entity_id"))
  }
}
