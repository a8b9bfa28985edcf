package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash-LSH, SimHash,
  * and n-gram Jaccard. Every variant is a pure DataFrame pipeline (explode → hash →
  * groupBy/join), so at 100 TB the cost profile is explicit: one shuffle per groupBy,
  * band-bucket joins instead of O(n²) pairwise comparison, and candidate verification
  * only within buckets.
  */
object Dedup {

  /** Exact dedup: keep the lowest-`idCol` row per normalized-content fingerprint.
    *
    * Formulated as `min_by` aggregation, not a `row_number` window: an aggregate
    * partial-combines map-side, so each mapper ships at most one row per distinct
    * fingerprint into the shuffle — a window must shuffle EVERY row (full corpus
    * bytes) before it can rank. On a duplicate-heavy 100 TB crawl the difference is
    * the shuffle being sized by unique content rather than raw content.
    *
    * The ordering key is (id IS NULL, id) rather than the bare id: `min_by` skips
    * rows whose ordering value is null, so a group whose ids are ALL null would
    * otherwise emit one all-null row instead of retaining an original. Null-id rows
    * sort after real ids (a real id always wins); among several null-id duplicates
    * the kept row is arbitrary, as with any tied ordering key.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val all = struct(df.columns.map(col): _*)
    df.groupBy(fp.alias("__fp"))
      .agg(min_by(all, struct(col(idCol).isNull.alias("n"), col(idCol).alias("k"))).alias("__row"))
      .select("__row.*")
  }

  /** Normalized word array of a text column (shared by the shingle pipelines and the
    * native one-pass SimHash).
    */
  private[graft] def wordsArray(textCol: Column): Column = filter(
    split(regexp_replace(lower(textCol), "[^a-z0-9一-鿿 ]", " "), "\\s+"),
    w => length(w) > 0)

  /** Word n-gram shingles of the normalized text (distinct, as one row per shingle).
    *
    * The word array is materialized in its own projection before the n-gram lambda
    * runs: a subexpression nested inside a higher-order-function lambda is re-evaluated
    * on every lambda invocation (once per array position), which turns the regex
    * normalization into O(words²) work per document — staging it as a bound attribute
    * makes it O(words) and is ~35× faster end-to-end.
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    val w = col("__w")
    val grams = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
    staged.select(col("id"), explode(array_distinct(grams)).alias("shingle"))
  }

  /** Corpus-wide top-K n-grams by document frequency with BOUNDED aggregation
    * state — the scale path for the exact `groupBy(shingle).count` plan, whose
    * hash-aggregate state grows with the number of DISTINCT grams (at 100 TB that
    * is the corpus vocabulary, not a bounded quantity). Two passes over the same
    * persisted shingle stream:
    *
    *   1. Misra-Gries candidate sketch ([[graft.functions.Aggregators.MisraGries]]):
    *      ≤ `counters` entries per partial buffer, mergeable, so the aggregation
    *      state is O(counters) per partition regardless of vocabulary size. Every
    *      gram with document frequency > N/(counters+1) is guaranteed present.
    *   2. Exact recount of the candidates only (broadcast join — the candidate set
    *      is driver-sized by construction), then top-K by (count desc, gram).
    *
    * The recount makes the output EXACT — identical to the unbounded groupBy —
    * whenever the true K-th document frequency exceeds N/(counters+1) (then every
    * gram that could place in the top K, ties included, is a candidate, and exact
    * counts order them deterministically; MG's merge-order-dependent candidate set
    * stops mattering). With `verified = true` the operator CHECKS that condition at
    * runtime (N and the K-th recounted frequency are both in hand) and falls back
    * to the exact groupBy when it fails — it never silently approximates. Pick
    * `counters` ≈ (expected gram occurrences) / (frequency of the boilerplate
    * being hunted); 16k counters ≈ half a megabyte of driver candidates.
    */
  def topNgramsBounded(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, topK: Int = 25, counters: Int = 16384,
      verified: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingles(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = sh.select(col("shingle")).as[String]
      .select(new graft.functions.Aggregators.MisraGries(counters).toColumn)
      .head()
    val top = sh.join(broadcast(cands.toSeq.toDF("shingle")), Seq("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).alias("n_docs"))
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(topK)
    if (!verified) top
    else {
      val rows = top.collect()
      val kth = if (rows.length < topK) Long.MinValue else rows.last.getLong(1)
      if (rows.length == topK && kth > sh.count() / (counters + 1L)) top
      else // guarantee violated (counters too small for this corpus): exact plan
        sh.groupBy(col("shingle")).agg(count(lit(1)).alias("n_docs"))
          .orderBy(col("n_docs").desc, col("shingle"))
          .limit(topK)
    }
  }

  /** MinHash signatures: hash each shingle string ONCE, then derive the k permutations
    * by re-hashing that fixed-width 64-bit value with the permutation index —
    * k·|shingles| variable-length string hashes become |shingles| string hashes plus
    * k cheap long hashes (and stays inside ANSI-safe expressions). One aggregation
    * produces all k min-hashes (single shuffle by document id).
    */
  def minHashSignatures(sh: DataFrame, k: Int = 32): DataFrame = {
    val hashed = sh.withColumn("__h", shingleKey(col("shingle"), sh))
    val mins = (0 until k).map(i =>
      min(xxhash64(col("__h"), lit(i))).alias(s"mh_$i"))
    hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: split the k-wide signature into `bands` bands of k/bands rows; docs
    * sharing any band hash are candidates. Band-bucket self-join replaces the O(n²)
    * scan — the classic shingle→minhash→band→bucket-join pipeline.
    */
  def lshCandidates(sig: DataFrame, k: Int = 32, bands: Int = 16): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).alias("band"),
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*).alias("h"))
    }
    val banded = sig.select(col("id"), explode(array(bandCols: _*)).alias("bh"))
    // One-shuffle bucket expansion: collect ids per (band, band-hash) bucket and
    // stream its c(c−1)/2 ordered pairs map-side. The previous self-join
    // formulation computed the signature subtree TWICE (both join sides) and
    // shuffled both copies; this groups once. The posting list is the only O(c)
    // state a bucket costs; its pair output is still quadratic, so a bucket far
    // past near-dup cluster size means a banding parameterization mismatched to
    // the corpus, not a memory knob.
    bucketPairs(banded.select(col("id"), col("bh").alias("key")))
  }

  /** The `bands` LSH band hashes of a signature frame as ONE array column —
    * (id, bands: array<long>) — the compact form an incremental dedup INDEX
    * stores per document (`bands` longs instead of `k` minhashes).
    */
  def bandHashArray(sig: DataFrame, k: Int = 32, bands: Int = 16): DataFrame = {
    val rows = k / bands
    sig.select(col("id"), array((0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*)
    }: _*).alias("bands"))
  }

  /** LSH candidate pairs ACROSS two frames of per-doc band-hash arrays (the
    * batch-versus-index join of incremental dedup): explode both sides to
    * (band position, hash) and equi-join — a candidate is any (a, b) agreeing on
    * at least one band. Output (id_a from `a`, id_b from `b`), distinct. The
    * index side shuffles (id, 8-byte hash) rows only; at corpus scale this is a
    * sort-merge join keyed by band hash, and a daily-batch side small enough to
    * broadcast turns it map-side.
    */
  def lshCandidatesAcross(a: DataFrame, b: DataFrame): DataFrame = {
    def banded(df: DataFrame) =
      df.select(col("id"), posexplode(col("bands")).as(Seq("band", "h")))
    banded(a).alias("a")
      .join(banded(b).alias("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .distinct()
  }

  /** Ordered candidate pairs `(id_a < id_b)` from equal-key `(key, id)` rows in one
    * shuffle: sorted posting list per key, streamed pairs, distinct. An `id` may be
    * a struct led by the id, to carry a payload onto both pair sides. A posting is
    * the only O(c) state of a c-member bucket; its c(c−1)/2 pairs are still output.
    * Uncapped on purpose: a cap drops whole buckets, and LSH recall, the prefix
    * filter's exactness and p13's even-wave identity need every bucket complete.
    */
  private def bucketPairs(keyed: DataFrame): DataFrame =
    CandidatePairs.within(
        keyed.groupBy(col("key")).agg(sort_array(collect_list(col("id"))).alias("ids")),
        "ids")
      .select(col("a").alias("id_a"), col("b").alias("id_b"))
      .distinct()

  /** Exact pairwise Jaccard without materializing shingle arrays: the intersection
    * size is the group-count of the shingle-keyed self-join (a shingle shared by a
    * pair has document frequency ≥ 2 by definition, so restricting the join input to
    * df ≥ 2 loses nothing), and |union| = |A| + |B| − |A∩B| from per-doc counts.
    * Shuffles carry only (id, count) longs — no document content, no arrays.
    *
    * `maxDocFreq` caps hot shingles in the join (c² pair-row blowup at scale); any
    * capped shingle makes the intersection a lower bound, so the cap should exceed
    * the corpus' near-dup cluster size (default 1000) — at 100 TB this is the knob
    * that trades exactness on boilerplate-heavy corpora for a bounded join.
    */
  def pairJaccard(shRaw: DataFrame, maxDocFreq: Int = 1000): DataFrame = {
    val sh = hashedShingles(shRaw)
    // Inverted-index pair expansion in ONE shuffle: group ids per shingle via a
    // size-BOUNDED sorted collect (BoundedSortedCollect — a group past maxDocFreq
    // nulls out and frees its buffer, so a boilerplate shingle in millions of docs
    // costs O(maxDocFreq) agg state, never an executor OOM), then stream the
    // c(c−1)/2 ordered pairs map-side from the sorted posting array — where the
    // previous self-join formulation shuffled the (id, shingle) table twice (both
    // join sides) plus a dfreq pre-aggregation.
    val boundedCollect = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.BoundedSortedCollect(maxDocFreq))
    postingJaccard(
      sh.groupBy(col("shingle")).agg(boundedCollect(col("id")).alias("ids")),
      sh.groupBy(col("id")).agg(count(lit(1)).alias("sz")))
  }

  /** Exact Jaccard of pairs sharing a capped `ids` posting (a null, over-cap one
    * counts nothing): |A∩B| counted over postings, |A|, |B| from `(id, sz)` sizes.
    */
  private def postingJaccard(postings: DataFrame, sizes: DataFrame): DataFrame = {
    val inter = CandidatePairs.within(postings, "ids")
      .groupBy(col("a").alias("id_a"), col("b").alias("id_b"))
      .agg(count(lit(1)).alias("inter"))
    inter
      .join(sizes.select(col("id").alias("id_a"), col("sz").alias("sza")), "id_a")
      .join(sizes.select(col("id").alias("id_b"), col("sz").alias("szb")), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double"), 6))
  }

  /** Per-document distinct shingle-hash SET as one map-side array — (id, s) with
    * `s: array<long>` sorted ascending, empty-shingle documents dropped. Computed
    * by the fused native expression [[graft.functions.ShingleHashes]] (no gram
    * strings in the row, no explode, no groupBy): the whole signature stage is a
    * pure scan, and downstream stages choose their shape — `explode(s)` where an
    * inverted index is needed, `array_intersect` where per-pair verification is.
    */
  def shingleHashSets(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    staged
      .select(col("id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.ShingleHashes(
          org.apache.spark.sql.graft.Bridge.toExpression(spark, col("__w")), n))
        .alias("s"))
      .filter(size(col("s")) > 0)
  }

  /** Exact Jaccard over candidate pairs against per-document hash SETS: two joins
    * by id bring both documents' sorted hash arrays onto the candidate row, and the
    * intersection is a map-side `array_intersect` — no (candidate × shingles)
    * explosion, no count shuffle, which is what makes a large candidate set (dense
    * shingle vocabularies where every prefix collides) cheap to verify. Shuffles
    * carry (id_a, id_b) plus one doc-length long array per side; at corpus scale
    * both joins are sort-merge on id, and the sets table is the same scan-stage
    * projection [[shingleHashSets]] produces — no aggregation anywhere.
    */
  def verifyJaccardSets(cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    verifyJaccardSetsAcross(cands, sets, sets, threshold)

  /** [[verifyJaccardSets]] with each pair side resolved against its OWN sets frame
    * (the batch-versus-index shape of incremental dedup).
    */
  def verifyJaccardSetsAcross(cands: DataFrame, setsA: DataFrame, setsB: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(setsA.select(col("id").alias("id_a"), col("s").alias("__sa")), "id_a")
      .join(setsB.select(col("id").alias("id_b"), col("s").alias("__sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The (id, shingle) rows each document INDEXES under prefix filtering: its
    * `|d| − ⌈t·|d|⌉ + 1` rarest shingles in the global (df asc, shingle) order.
    * Exposed for plan/pruning assertions; [[prefixJaccardCandidates]] consumes it.
    */
  private[graft] def prefixIndex(shRaw: DataFrame, threshold: Double,
      dfreqPre: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < t <= 1, got $threshold")
    val sh = hashedShingles(shRaw)
    // the df aggregation is the prefix path's priciest shuffle — reuse a
    // (shingle, __df) table when the caller already built one (auto dispatch)
    val dfreq = dfreqPre.getOrElse(
      sh.groupBy(col("shingle")).agg(count(lit(1)).alias("__df")))
    val byDoc = Window.partitionBy(col("id"))
    sh.join(dfreq, "shingle")
      .withColumn("__rk", row_number().over(byDoc.orderBy(col("__df"), col("shingle"))))
      .withColumn("__sz", count(lit(1)).over(byDoc))
      .filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
      .select(col("id"), col("shingle"))
  }

  /** Prefix-filtered candidate pairs for an exact Jaccard-threshold join — the
    * prefix filtering principle of the set-similarity-join literature (Chaudhuri et
    * al. ICDE'06; Bayardo et al. WWW'07; the candidate stage of PPJoin, Xiao et al.
    * WWW'08): under ANY global total order of shingles, two sets with
    * `J(a,b) >= t` must share a shingle among each set's first
    * `|d| − ⌈t·|d|⌉ + 1` shingles, so only that prefix needs indexing.
    *
    * Ordering by ascending document frequency puts the RAREST shingles in the
    * prefix: a stopword gram shared by half the corpus lands in every suffix and
    * generates no candidate pairs at all. This is what replaces [[pairJaccard]]'s
    * `maxDocFreq` recall cap for the near-dup join — the quadratic posting-list
    * expansion on hot shingles disappears by construction, and exactness is a
    * theorem rather than a cap-sized-right assumption. Posting lists here are
    * prefix postings (df-ascending order makes them small for any corpus whose
    * near-dup clusters are small; a corpus that is ONE giant near-dup cluster has
    * quadratic output anyway), so a plain `collect_list` is safe where the
    * all-shingle index needed `BoundedSortedCollect`.
    *
    * The `1e-9` slack keeps `ceil` from overshooting when `t·|d|` is integral but
    * floating-point rounds it up (an overshoot would shorten the prefix and lose
    * recall; undershoot only lengthens it — safe).
    *
    * Cost shape at 100 TB: one df aggregation + one window rank (both shuffling
    * (id, shingle-hash) longs), candidate expansion over prefix postings only,
    * then [[verifyJaccard]] within candidates.
    */
  def prefixJaccardCandidates(shRaw: DataFrame, threshold: Double,
      dfreqPre: Option[DataFrame] = None): DataFrame =
    bucketPairs(prefixIndex(shRaw, threshold, dfreqPre)
      .select(col("id"), col("shingle").alias("key")))

  /** Shingle equality key: xxhash64 when the column still holds raw shingle strings.
    * Jaccard/MinHash only ever compare shingles for EQUALITY, so joining and
    * shuffling an 8-byte long instead of a multi-word string cuts shuffle bytes
    * several-fold; a 64-bit collision merging two distinct shingles has
    * probability ~n²/2⁶⁵ over n distinct shingles — immaterial against the
    * threshold-rounded scores. SimHash keeps raw strings (its hash must be
    * reproducible in the oracle engine, md5Hash60).
    */
  private def shingleKey(c: Column, df: DataFrame): Column =
    if (df.schema("shingle").dataType == org.apache.spark.sql.types.StringType) xxhash64(c) else c

  private def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), shingleKey(col("shingle"), sh).alias("shingle"))

  /** Exact Jaccard of candidate pairs, count-based and proportional to the candidate
    * set (not all pairs): expand each candidate pair by side-A shingles, inner-join
    * against side-B's (id, shingle) pairs to count the intersection, then
    * |union| = |A| + |B| − |A∩B|.
    */
  def verifyJaccard(cands: DataFrame, shRaw: DataFrame, threshold: Double): DataFrame = {
    val sh = hashedShingles(shRaw)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).alias("sz"))
    val inter = cands
      .join(sh.select(col("id").alias("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").alias("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).alias("inter"))
    inter
      .join(sizes.select(col("id").alias("id_a"), col("sz").alias("sza")), "id_a")
      .join(sizes.select(col("id").alias("id_b"), col("sz").alias("szb")), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Signatures are the map-only native expression; verification joins the LSH
    * candidates against per-document hash SETS ([[shingleHashSets]] +
    * [[verifyJaccardSets]]) — the intersection is a map-side `array_intersect`, so
    * nothing candidate×shingle-shaped ever shuffles. The persisted sets are
    * registered with the session's shared CacheManager, which keeps them until
    * `unpersist()` or `spark.catalog.clearCache()`; dropping the result does not
    * free them, and only a repeat over an identical input plan reuses the entry.
    * Callers running many corpora through one session clear the cache themselves
    * (ROADMAP item 5, operator intermediates).
    */
  def minHashNearDup(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    // one fused scan feeds candidates AND both verify join sides
    val both = setsAndMinHash(df, textCol, idCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = both.select(col("id"), col("s"))
    verifyJaccardSets(lshCandidates(both, k, bands), sets, threshold)
  }

  /** One-scan `(id, s, mh_0 … mh_{k−1})` projection: the shingle-hash set AND the
    * MinHash signature off the SAME staged word array. The regex word
    * normalization is the scan's dominant per-row cost, and the two-frame
    * formulation (`shingleHashSets` + `minHashSignaturesNative`) paid it twice —
    * fusing halves the scan work for every operator that needs candidates and
    * verification sets from one corpus pass. Row set matches both constituents:
    * documents with fewer than `n` words produce an empty shingle set and are
    * dropped, exactly as each unfused frame drops them.
    */
  private[graft] def setsAndMinHash(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    val w = org.apache.spark.sql.graft.Bridge.toExpression(spark, col("__w"))
    staged.select(col("id"),
        org.apache.spark.sql.graft.Bridge.column(graft.functions.ShingleHashes(w, n))
          .alias("s"),
        org.apache.spark.sql.graft.Bridge.column(graft.functions.MinHashWords(w, n, k))
          .alias("__mh"))
      .filter(size(col("s")) > 0)
      .select(col("id") +: col("s") +:
        (0 until k).map(i => col("__mh")(i).alias(s"mh_$i")): _*)
  }

  /** Map-only MinHash signatures via [[graft.functions.MinHashWords]]: all k minima
    * computed in one scan-stage loop per document — no shingle explode, no
    * groupBy(id) shuffle of (id, hash) pairs. Bit-identical to
    * `minHashSignatures(hashedShingles(shingles(df, …)), k)` (asserted in
    * OperatorsSpec), so the LSH candidate set is unchanged.
    */
  def minHashSignaturesNative(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    val sig = staged.filter(size(col("__w")) >= n)
      .select(col("id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.MinHashWords(
          org.apache.spark.sql.graft.Bridge.toExpression(spark, col("__w")), n, k))
        .alias("__mh"))
    sig.select(col("id") +: (0 until k).map(i => col("__mh")(i).alias(s"mh_$i")): _*)
  }

  /** [[pairJaccard]]'s posting-intersection join over pre-computed hash sets:
    * exploded `(id, hash)` longs come from the fused scan (no gram strings, no
    * string explode), and per-doc sizes are `size(s)` — array lengths off the same
    * cached sets, not a second aggregation over the corpus.
    */
  def pairJaccardFromSets(sets: DataFrame, maxDocFreq: Int = 1000): DataFrame =
    pairJaccardFromPostings(cappedPostings(sets, maxDocFreq), sets)

  /** The capped inverted index WITH an exact per-shingle document frequency: one
    * groupBy produces both the size-bounded posting list (null when over cap) and
    * the true df — so the auto dispatch can read `max(__df)` off this one shuffle
    * instead of paying a second df aggregation, and the prefix fallback can reuse
    * the `(shingle, __df)` projection as its ordering table.
    */
  private[graft] def cappedPostings(sets: DataFrame, maxDocFreq: Int): DataFrame = {
    val sh = sets.select(col("id"), explode(col("s")).alias("shingle"))
    val boundedCollect = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.BoundedSortedCollect(maxDocFreq))
    sh.groupBy(col("shingle"))
      .agg(boundedCollect(col("id")).alias("ids"), count(lit(1)).alias("__df"))
  }

  /** Pair expansion + exact Jaccard off a prebuilt capped-postings table. */
  private[graft] def pairJaccardFromPostings(postings: DataFrame, sets: DataFrame)
      : DataFrame =
    postingJaccard(postings, sets.select(col("id"), size(col("s")).cast("long").alias("sz")))

  /** Asymmetric shingle-containment near-dup: `C(A→B) = |A∩B| / |A|` over the
    * distinct n-gram shingle sets. Containment is what catches document-INSIDE-
    * document duplication — a quoted excerpt, a scraped article embedded in a
    * boilerplate page, a prefix slice — where symmetric Jaccard stays low by
    * construction (a 30-word excerpt of a 300-word article has `J ≈ 0.1` but
    * `C = 1.0`). The measure of Broder's resemblance/containment pair (Broder,
    * SEQUENCES '97), the one the exact-substring dedup literature (Lee et al. 2022)
    * targets at the corpus level.
    *
    * Two exact strategies share the fused hash-set scan, mirroring
    * [[ngramJaccardNearDup]]'s dispatch:
    *
    *   - `"capped"` — the one-shuffle capped inverted index of
    *     [[pairJaccardFromSets]], both directions of each unordered pair emitted
    *     (containment is asymmetric — `(a in b)` and `(b in a)` are separate
    *     judgements); exact whenever no shingle's document frequency exceeds
    *     `maxDocFreq`;
    *   - `"prefix"` — one-sided prefix filtering
    *     ([[prefixContainmentCandidates]]: the contained side probes its rarest
    *     `|A| − ⌈t·|A|⌉ + 1` shingles against the flat corpus shingle table) +
    *     map-side `array_intersect` verification; exact by theorem at ANY corpus
    *     size, the 100 TB route on boilerplate-heavy corpora where the capped
    *     index would need an uncomfortable cap.
    *
    * `"auto"` (default) measures like the Jaccard dispatch: small corpus with a
    * provably-safe max document frequency → capped, otherwise prefix.
    */
  def containmentNearDup(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.9, maxDocFreq: Int = 1000,
      strategy: String = "auto", cappedMaxDocs: Long = 1000000L): DataFrame = {
    val sets = shingleHashSets(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dispatchCappedOrPrefix(sets, strategy, maxDocFreq, cappedMaxDocs, "containment") match {
      case Left(postings) =>
        val overlap = pairJaccardFromPostings(postings, sets)
          .select(col("id_a"), col("id_b"), col("inter"), col("sza"), col("szb"))
        val directed = overlap.select(
            col("id_a").alias("contained_id"), col("id_b").alias("container_id"),
            col("inter"), col("sza").alias("sz"))
          .union(overlap.select(
            col("id_b").alias("contained_id"), col("id_a").alias("container_id"),
            col("inter"), col("szb").alias("sz")))
        directed
          .withColumn("containment",
            round(col("inter").cast("double") / col("sz").cast("double"), 6))
          .filter(col("containment") >= threshold)
          .select(col("contained_id"), col("container_id"), col("containment"))
      case Right(dfreqPre) =>
        verifyContainmentSets(
          prefixContainmentCandidates(sets, threshold, dfreqPre), sets, threshold)
    }
  }

  /** Capped-vs-prefix dispatch shared by the Jaccard and containment joins, with
    * at most ONE aggregation pass spent deciding. `"capped"`/`"prefix"` skip the
    * probe entirely. `"auto"` counts the persisted sets (cheap); a corpus over
    * `cappedMaxDocs` goes straight to prefix with nothing built, and a small one
    * builds the capped postings WITH their df column ([[cappedPostings]]) and
    * reads `max(__df)` off that persisted table — so when the capped path wins
    * (the common small-corpus case) its only shuffle is already done, and when it
    * loses, the `(shingle, __df)` projection feeds [[prefixIndex]]'s ordering so
    * the prefix path skips its df aggregation. Either way the probe's shuffle is
    * never thrown away.
    *
    * Returns `Left(postings)` when the capped index is provably exact for this
    * corpus, `Right(dfreqPre)` when the prefix path must run.
    */
  /** Last dispatch decision per op name ("jaccard"/"containment") — bench/smoke
    * observability only (read by `tools.ScaleSmoke` to report which route the
    * auto probe chose for a corpus); the operators never read it back.
    */
  private[graft] val lastDispatch =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dispatchCappedOrPrefix(sets: DataFrame, strategy: String,
      maxDocFreq: Int, cappedMaxDocs: Long, opName: String)
      : Either[DataFrame, Option[DataFrame]] = {
    def chose(c: String): Unit = { lastDispatch.put(opName, c); () }
    strategy match {
    case "capped" => chose("capped(forced)"); Left(cappedPostings(sets, maxDocFreq))
    case "prefix" => chose("prefix(forced)"); Right(None)
    case "auto" =>
      if (sets.count() > cappedMaxDocs) { chose("prefix(docs>cap)"); Right(None) }
      else {
        val postings = cappedPostings(sets, maxDocFreq)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val maxDf = postings.agg(max(col("__df"))).head.getLong(0)
        if (maxDf <= maxDocFreq) { chose(s"capped(maxDf=$maxDf)"); Left(postings) }
        else {
          chose(s"prefix(maxDf=$maxDf)")
          Right(Some(postings.select(col("shingle"), col("__df"))))
        }
      }
    case other => throw new IllegalArgumentException(
      s"unknown $opName strategy '$other' (capped|prefix|auto)")
    }
  }

  /** Directed containment candidates by prefix filtering: if `C(A→B) ≥ t` then
    * the overlap is at least `⌈t·|A|⌉`, so under any global order A's first
    * `|A| − ⌈t·|A|⌉ + 1` shingles must intersect B's FULL set — only A's prefix
    * probes, and the probed side is the flat `(id, shingle)` table, never a
    * collected posting list. With the df-ascending order the probes are each
    * document's RAREST shingles, so a boilerplate shingle shared by half the
    * corpus is never probed and its postings never expand (it sits in every
    * suffix) — the hot-key blowup of the capped index disappears by construction,
    * exactly as in [[prefixJaccardCandidates]], but one-sided: containment
    * constrains only the contained side, so the container side stays unfiltered.
    * At `t = 0.9` a document probes ~10 % of its shingles.
    */
  private[graft] def prefixContainmentCandidates(sets: DataFrame, threshold: Double,
      dfreqPre: Option[DataFrame] = None): DataFrame = {
    val sh = sets.select(col("id"), explode(col("s")).alias("shingle"))
    prefixIndex(sh, threshold, dfreqPre).alias("a")
      .join(sh.alias("b"), Seq("shingle"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").alias("contained_id"), col("b.id").alias("container_id"))
      .distinct()
  }

  /** Exact containment over directed candidates against per-document hash sets:
    * the intersection is a map-side `array_intersect`, divided by the CONTAINED
    * side's set size.
    */
  private def verifyContainmentSets(cands: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sets.select(col("id").alias("contained_id"), col("s").alias("__sa")),
        "contained_id")
      .join(sets.select(col("id").alias("container_id"), col("s").alias("__sb")),
        "container_id")
      .withColumn("containment",
        round(size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(col("__sa")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"), col("containment"))

  /** Exact n-gram Jaccard near-dup with adaptive candidate strategy.
    *
    * Two exact-result paths share the fused hash-set scan ([[shingleHashSets]]):
    *
    *   - `"capped"` — the one-shuffle capped inverted index
    *     ([[pairJaccardFromSets]]): fastest when every posting fits the
    *     `maxDocFreq` cap, i.e. exact as long as no shingle is shared by more
    *     documents than the cap (near-dup cluster sizes and boilerplate df both
    *     bounded by it);
    *   - `"prefix"` — prefix filtering ([[prefixJaccardCandidates]]) + map-side
    *     array verification ([[verifyJaccardSets]]): exact by theorem at ANY
    *     corpus size, at the fixed cost of the df-ordering shuffles.
    *
    * `"auto"` (default) picks like the connected-components fast path, but
    * MEASURES instead of assuming: for a corpus small enough to make the check
    * cheap (`docs <= cappedMaxDocs`, counted off the cached sets) it computes the
    * maximum shingle document frequency — if no posting can exceed the cap, the
    * capped path is provably exact for THIS corpus and its lower per-stage
    * overhead wins; otherwise (larger corpus, or a measured df above the cap) the
    * prefix path runs, whose extra shuffles are linear in the shingle table and
    * whose exactness rests on the prefix theorem rather than a cap sized right.
    */
  def ngramJaccardNearDup(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDocFreq: Int = 1000,
      strategy: String = "auto", cappedMaxDocs: Long = 1000000L): DataFrame = {
    // persisted for multi-subtree reuse: every strategy reads the sets at least
    // twice (postings + sizes, or candidates + both verify join sides)
    val sets = shingleHashSets(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dispatchCappedOrPrefix(sets, strategy, maxDocFreq, cappedMaxDocs, "jaccard") match {
      case Left(postings) =>
        pairJaccardFromPostings(postings, sets)
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
      case Right(dfreqPre) =>
        val sh = sets.select(col("id"), explode(col("s")).alias("shingle"))
        verifyJaccardSets(
          prefixJaccardCandidates(sh, threshold, dfreqPre), sets, threshold)
    }
  }

  /** 60-bit shingle hash derived from md5 (15 hex chars keep the long positive):
    * slower than xxhash64 per shingle, but reproducible in any engine with a standard
    * md5 — the hash to use when the pair set must be externally oracle-checkable.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** `bits`-wide SimHash per document: sign-sum of per-shingle hash bits. Computed
    * with one explode + one groupBy (bit counting via `bits` conditional sums kept in
    * codegen). Default hash is xxhash64 (fastest); pass [[md5Hash60]] with bits=60 for
    * a cross-engine-reproducible signature.
    */
  def simHash(sh: DataFrame, bits: Int = 64,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    // hash each shingle once; the bit-sums reference the cached column
    val hashed = sh.withColumn("__h", hash(col("shingle")))
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).alias(s"b_$i"))
    val sums = hashed.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("id"), sig.alias("simhash"))
  }

  /** Map-only SimHash signatures via the native one-pass expression
    * ([[graft.functions.SimHashWords]]): shingling, md5, and bit-counting fused into
    * a single scan stage — no explode, no groupBy shuffle. Bit-identical to
    * `simHash(shingles(df, …), bits, md5Hash60)` (asserted in OperatorsSpec).
    * Documents with fewer than `n` words are dropped, matching the exploded form
    * (they produce no shingle rows there).
    */
  def simHashSignaturesNative(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, bits: Int = 60): DataFrame = {
    val spark = df.sparkSession
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    staged.filter(size(col("__w")) >= n)
      .select(col("id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SimHashWords(
          org.apache.spark.sql.graft.Bridge.toExpression(spark, col("__w")), n, bits))
        .alias("simhash"))
  }

  /** SimHash near-dup: band the `bits`-wide signature into 4 chunks (any equal chunk
    * → candidate, guaranteeing recall for hamming distance ≤ 3), then verify by exact
    * hamming distance.
    */
  def simHashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bits: Int = 64,
      hash: Column => Column = xxhash64(_)): DataFrame =
    bandPairs(simHash(shingles(df, textCol, idCol), bits, hash), bits, maxHamming)

  /** [[simHashNearDup]] with the signature stage replaced by the native map-only
    * expression (md5-derived 60-bit shingle hashes — the oracle-reproducible form).
    */
  def simHashNearDupNative(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, n: Int = 3, bits: Int = 60): DataFrame =
    bandPairs(simHashSignaturesNative(df, textCol, idCol, n, bits), bits, maxHamming)

  /** Empty `(id, simhash)` signature index — the seed for incremental hamming dedup. */
  def emptyHammingIndex(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("simhash",
          org.apache.spark.sql.types.LongType))))

  /** Incremental banded hamming dedup: batch signatures survive unless within
    * `maxHamming` of an INDEXED signature or of a lower-id signature of their own
    * batch — the online arrival rule of [[graft.operators.Curation.incrementalNearDedup]]
    * applied to 64-bit perceptual fingerprints. Index state is 16 bytes per
    * retained item; the band join's shuffle carries the batch side only — the
    * index is scanned (a linear read of 16-byte rows, prunable by partitioning
    * the index files on a band prefix), never reshuffled, and the small batch
    * side broadcasts.
    */
  def incrementalHammingDedup(batch: DataFrame, index: DataFrame,
      bits: Int = 64, maxHamming: Int = 3): DataFrame = {
    require(bits % 4 == 0, "hamming banding uses 4 equal chunks")
    val cw = bits / 4
    def banded(df: DataFrame) = df.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(i => struct(lit(i).alias("c"),
        shiftright(col("simhash"), i * cw).bitwiseAND((1L << cw) - 1).alias("v"))): _*))
        .alias("ch"))
    val vsIndex = banded(batch).alias("a")
      .join(banded(index).alias("b"), col("a.ch") === col("b.ch"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.id").alias("id"))
    val inBatch = hammingNearDup(batch, bits, maxHamming)
      .select(col("id_b").alias("id"))
    batch.join(vsIndex.union(inBatch).distinct(), Seq("id"), "left_anti")
  }

  /** Banded hamming near-dup over ANY precomputed `(id, simhash)` signature frame —
    * the SimHash candidate/verify machinery opened up for other 64-bit perceptual
    * fingerprints (image dHash from [[Multimodal.perceptualHash]], audio chroma
    * hashes, …). Recall is exact for `maxHamming ≤ 3` by the 4-band pigeonhole.
    */
  def hammingNearDup(sig: DataFrame, bits: Int = 64, maxHamming: Int = 3): DataFrame =
    bandPairs(sig, bits, maxHamming)

  private def bandPairs(sig: DataFrame, bits: Int, maxHamming: Int): DataFrame =
    bandCandidates(sig, bits, maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").alias("hamming"))

  /** Video near-duplicates by FRAME-set containment: two videos are near-dups when
    * the matched fraction of EITHER side's distinct frame hashes reaches
    * `minMatchFrac` — a frame hash matches when some frame of the other video is
    * within `maxHamming` bits. The max-of-both-containments shape catches CLIPS
    * (a short excerpt's frames are fully contained in its source, while the
    * source's fraction stays low) as well as re-encodes and single-frame edits —
    * the video analogue of [[containmentNearDup]]'s excerpt asymmetry.
    *
    * `frameHashes` is [[Multimodal.videoFrameHashes]] output (id, frame_no,
    * simhash). Scale shape: the corpus is already collapsed to 8 bytes per frame;
    * candidate generation is the same one-shuffle 4-band bucket expansion as
    * [[hammingNearDup]] at FRAME granularity (recall exact for `maxHamming` ≤ 3 by
    * pigeonhole), and the per-pair aggregation carries only matched-hash counts.
    * Returns (id_a, id_b, m_a, m_b, n_a, n_b): matched / total distinct frame
    * hashes per side — the fractions are left to the caller's filter so audits see
    * the evidence, and the exported counts stay integers (engine-exact).
    */
  def videoNearDup(frameHashes: DataFrame, bits: Int = 64, maxHamming: Int = 3,
      minMatchFrac: Double = 0.5): DataFrame = {
    val fh = frameHashes.select(col("id"), col("simhash")).distinct()
    val sizes = fh.groupBy("id").agg(count(lit(1)).alias("n"))
    val matched = bandCandidates(fh, bits, maxHamming)
      .groupBy("id_a", "id_b")
      .agg(countDistinct(col("sh_a")).alias("m_a"),
        countDistinct(col("sh_b")).alias("m_b"))
    matched
      .join(sizes.select(col("id").alias("id_a"), col("n").alias("n_a")), "id_a")
      .join(sizes.select(col("id").alias("id_b"), col("n").alias("n_b")), "id_b")
      .filter(col("m_a") / col("n_a") >= minMatchFrac ||
        col("m_b") / col("n_b") >= minMatchFrac)
      .select(col("id_a"), col("id_b"), col("m_a"), col("m_b"),
        col("n_a"), col("n_b"))
  }

  /** [[bandPairs]] keeping both sides' signatures: (id_a, id_b, sh_a, sh_b,
    * hamming) for every ≤-`maxHamming` pair — the frame-granular form
    * [[videoNearDup]] aggregates over.
    */
  private[graft] def bandCandidates(sig: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    require(bits % 4 == 0, "simHashNearDup bands the signature into 4 equal chunks")
    val cw = bits / 4
    val chunks = (0 until 4).map(i =>
      struct(lit(i).alias("c"),
        shiftright(col("simhash"), i * cw).bitwiseAND((1L << cw) - 1).alias("v")))
    // same one-shuffle bucket expansion as lshCandidates, carrying each side's
    // signature in the posting struct so hamming verification stays map-side
    // (structs sort by leading id field, so expanded pairs are id-ordered)
    bucketPairs(sig.select(struct(col("id"), col("simhash")).alias("id"),
        explode(array(chunks: _*)).alias("key")))
      .select(col("id_a.id").alias("id_a"), col("id_b.id").alias("id_b"),
        col("id_a.simhash").alias("sh_a"), col("id_b.simhash").alias("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact substring-duplication spans (the Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" primitive, arXiv:2107.06499): every
    * `window`-word sliding window whose exact text occurs at least `minCount` times
    * across the corpus marks its start position duplicated, and overlapping
    * duplicated windows merge into maximal spans. Returns
    * (id, span_start, span_end, n_words) in normalized-word offsets — a span covers
    * words [span_start, span_end); feeding the spans to a rewrite stage (drop, or
    * keep one occurrence) is the training-data dedup the paper measures.
    *
    * The paper builds a suffix array — a single-machine construction. The Spark
    * shape is window-fingerprint → shuffle-by-hash count → join back → per-document
    * interval merge: three shuffles, every one carrying (id, pos, hash64) longs,
    * never window text. Unlike [[Curation.contaminatedIds]]'s benchmark set, the
    * duplicated-window set is corpus-shaped at 100 TB, so membership is a shuffle
    * join on the hash, NOT a broadcast. The interval merge is a per-document window
    * over duplicated positions only (duplicate-dense docs, not the corpus, pay it).
    */
  def duplicateSpans(
      df: DataFrame, textCol: String, idCol: String,
      window: Int = 20, minCount: Int = 2): DataFrame = {
    require(window >= 2 && minCount >= 2, "duplicateSpans needs window >= 2, minCount >= 2")
    val spark = df.sparkSession
    val staged = df.select(col(idCol).alias("id"), wordsArray(col(textCol)).alias("__w"))
    // one-pass native rolling hash (WindowHashes): each window's bytes are built
    // once and hashed, vs. a sliced array + concat string per position through
    // the HOF lambda machinery
    val hashes = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WindowHashes(
        org.apache.spark.sql.graft.Bridge.toExpression(spark, col("__w")), window))
    // both consumers below (dup-hash aggregation, membership join) read the
    // window stream; persisting the (id, pos, h) longs keeps the text scan and
    // rolling-hash pass single-run — the cache holds 20-byte rows, never text
    val wins = staged.select(col("id"), posexplode(hashes).as(Seq("pos", "h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupH = wins.groupBy("h").agg(count(lit(1)).alias("c"))
      .filter(col("c") >= minCount).select("h")
    val dup = wins.join(dupH, "h").select("id", "pos")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // classic interval union: a new span starts where pos clears every prior
    // window's end (running max over [unbounded, -1])
    val prevMaxEnd = max(col("pos") + window)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("__ns", when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1).otherwise(0))
      .withColumn("__sid", sum(col("__ns")).over(byDoc))
      .groupBy(col("id"), col("__sid"))
      .agg(min(col("pos")).alias("span_start"), (max(col("pos")) + window).alias("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).alias("n_words"))
  }
}
