package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY.md §2.B: execution is one-shot
  * request/response), but the engine's models are plain DataFrames, so the same
  * semantic layer composes with `readStream` sources unchanged. These operators are
  * the streaming analogues of the batch event queries (e1_sessionize,
  * e2_hourly_rollup) plus streaming-native dedup:
  *
  *   - watermarked tumbling-window rollup — partial aggregation state is bounded by
  *     the watermark horizon; at scale state size ~ |windows in horizon| × |groups|;
  *   - session windows via the built-in `session_window` (codegen'd state store
  *     merge, no JVM-object state like mapGroupsWithState would carry);
  *   - `flatMapGroupsWithState` running per-user counters, for state machines the
  *     built-ins can't express;
  *   - `dropDuplicatesWithinWatermark` for at-least-once source dedup.
  */
object EventStreams {

  /** Tumbling-window rollup with late-data tolerance. Output: one row per
    * (window, event_type) when the watermark passes the window end (Append mode).
    */
  def hourlyRollup(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").alias("w"), col("event_type"))
      .agg(
        count(lit(1)).alias("n"),
        sum(col("value")).alias("sum_value"),
        approx_count_distinct(col("user_id")).alias("approx_users"))
      .select(col("w.start").alias("hour_start"), col("event_type"),
        col("n"), col("sum_value"), col("approx_users"))

  /** Session windows per user: a session closes after `gap` of inactivity. Built-in
    * `session_window` keeps state in the state store (RocksDB at scale), merged
    * map-side — no per-row JVM objects.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).alias("s"), col("user_id"))
      .agg(count(lit(1)).alias("n_events"), sum(col("value")).alias("session_value"))
      .select(col("user_id"), col("s.start").alias("session_start"),
        col("s.end").alias("session_end"), col("n_events"), col("session_value"))

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful operator: running per-user totals emitted on every trigger —
    * the `flatMapGroupsWithState` shape for state machines `session_window` cannot
    * express (reference has no analogue; included as the engine's custom-state
    * extension point). State per key is two numbers, so 10⁹ users ≈ tens of GB
    * spread across the cluster's state stores.
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  final case class TaggedEvent(
      key: Long, ts: Long, isRight: Boolean, tie: Long, value: Double)
  final case class AsofEnriched(
      key: Long, ts: Long, tie: Long,
      asof_ts: Option[Long], asof_value: Option[Double])

  /** Streaming as-of enrichment — the online form of
    * [[graft.operators.EventOps.asofJoin]]: a single tagged stream (right rows are
    * reference updates, left rows are lookups) where each left row emits with the
    * greatest right `(ts, tie)` at-or-before it seen so far on its key. Per-key
    * state is ONE (ts, tie, value) triple — 24 bytes per key regardless of stream
    * length, so 10⁹ keys spread across the cluster's state stores like
    * [[runningTotals]].
    *
    * Within a micro-batch, rows process in full (ts, side, tie) order — identical
    * tie/boundary semantics to the batch operator (same-instant right rows are
    * visible to left rows). ACROSS batches the guarantee is weaker by nature: a
    * left row arriving after a right row with a later event-time has already been
    * processed will see that newer value (processing-time race inherent to online
    * enrichment; bound it upstream with a watermark-sorted source, or run the batch
    * operator over closed windows for exact replay).
    */
  def asofEnrichStream(tagged: Dataset[TaggedEvent]): Dataset[AsofEnriched] = {
    import tagged.sparkSession.implicits._
    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Double), AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[TaggedEvent], state: GroupState[(Long, Long, Double)]) =>
          var cur = state.getOption // (ts, tie, value) of the best right row so far
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnriched]
          // batch-local ordering: ts, then right-before-left, then tie
          rows.toSeq.sortBy(e => (e.ts, if (e.isRight) 0 else 1, e.tie)).foreach { e =>
            if (e.isRight) {
              if (cur.forall(c => e.ts > c._1 || (e.ts == c._1 && e.tie >= c._2)))
                cur = Some((e.ts, e.tie, e.value))
            } else {
              out += AsofEnriched(key, e.ts, e.tie, cur.map(_._1), cur.map(_._3))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Source-side dedup for at-least-once delivery: drops event_id duplicates whose
    * first occurrence is within the watermark horizon. State is one entry per id in
    * the horizon — bounded, unlike un-watermarked dropDuplicates.
    */
  def dedupStream(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("event_id")

  /** Streaming NEAR-duplicate dedup at hamming distance 0: each document reduces
    * map-side to its 60-bit SimHash signature (the same native one-pass expression
    * as the batch path — works unchanged under `readStream` because it is a pure
    * projection), and `dropDuplicatesWithinWatermark` keeps one document per
    * signature in the horizon. This catches the near-dup class exact fingerprinting
    * misses — reordered whitespace, punctuation, and case survive normalization
    * identically, and any doc whose shingle-bit profile matches (hamming 0) dedups.
    * State per in-horizon doc is one long, not text. Hamming-k (k>0) matching needs
    * cross-document banding joins — a batch/`foreachBatch` concern
    * ([[graft.operators.Dedup.simHashNearDupNative]]), not a per-row stream map.
    */
  def nearDedupStream(docs: DataFrame, lateness: String = "1 hour",
      n: Int = 3): DataFrame = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    val words = Dedup.wordsArray(col("text"))
    docs
      .withColumn("__sig", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SimHashWords(
          org.apache.spark.sql.graft.Bridge.toExpression(spark, words), n, 60)))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** Hamming-k streaming near-dup via `foreachBatch`: every micro-batch runs one
    * round of [[graft.operators.Curation.incrementalNearDedup]] (MinHash-LSH
    * against the accumulated index + in-batch, exact-Jaccard verified), appends
    * survivors to `outDir` and their (band hashes, shingle set) rows to
    * `indexDir`. Cross-document similarity joins cannot run inside a streaming
    * plan (no watermark bound exists for "similar to anything ever seen"), so the
    * batch operator IS the streaming operator here — `foreachBatch` is Spark's
    * designated escape hatch for exactly this shape.
    *
    * EXACTLY-ONCE under crash-restart via the [[ExactlyOnce]] protocol: output
    * and index rows carry their `batch_id`, and a restarted query's first batch
    * purges the files of uncommitted batches from BOTH directories before
    * re-running. This matters more here than for a plain append sink: replaying
    * a batch against an index polluted with the crashed attempt's own rows
    * would drop every replayed doc as a near-dup of itself — silent data loss,
    * not just duplication.
    */
  def curateNearDupStream(
      docs: DataFrame, indexDir: String, outDir: String, checkpointDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, k: Int = 32, bands: Int = 16, threshold: Double = 0.7,
      compactIndexAt: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Curation
    ExactlyOnce.start(docs, checkpointDir)(
      (spark, ckpt, batchId) => {
        ExactlyOnce.purge(spark, outDir, ckpt, batchId)
        ExactlyOnce.purge(spark,
          graft.util.CommitPointer.liveDir(spark, indexDir), ckpt, batchId)
      },
      (batch, ckpt, batchId) => {
        val spark = batch.sparkSession
        // AFTER the purge (compacting first would launder a crashed attempt's
        // uncommitted rows into untagged permanence)
        val live = maintainIndexDir(spark, indexDir, compactIndexAt)
        val index =
          try spark.read.parquet(live).drop("batch_id", "ckpt_id")
          catch { case _: org.apache.spark.sql.AnalysisException =>
            Curation.emptyNearDupIndex(spark) }
        val (survivors, indexRows) = Curation.incrementalNearDedup(
          batch, index, textCol, idCol, n, k, bands, threshold)
        ExactlyOnce.tag(survivors, ckpt, batchId)
          .write.mode("append").parquet(outDir)
        // one index file per batch (tiny rows): repartition, not coalesce, so
        // the dedup computation upstream keeps its parallelism
        ExactlyOnce.tag(indexRows.repartition(1), ckpt, batchId)
          .write.mode("append").parquet(live)
      })
  }

  /** Bound the accumulated-index FILE count for the near-dup streams — the
    * [[DirCompaction]] generation rewrite (extracted there round 14 so the
    * entity-resolution sink shares it; semantics unchanged).
    */
  private def maintainIndexDir(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      threshold: Int): String = DirCompaction.maintain(spark, indexDir, threshold)

  /** Streaming perceptual near-dup for MEDIA payloads — `curateNearDupStream`'s
    * shape with text MinHash replaced by a 64-bit perceptual signature (image
    * dHash via [[graft.operators.Multimodal.perceptualHash]] by default; pass
    * [[graft.operators.Multimodal.audioFingerprint]] for audio streams). Every
    * micro-batch fingerprints its payloads map-side, drops rows within
    * `maxHamming` of the accumulated index or of a lower-id row of their own
    * batch ([[graft.operators.Dedup.incrementalHammingDedup]]), then appends
    * surviving rows to `outDir` and their 16-byte `(id, simhash)` signatures to
    * `indexDir`. Index state is 16 bytes per retained item — a billion-image
    * index is ~16 GB of parquet, read (never reshuffled) once per batch while
    * the batch side broadcasts. Undecodable payloads produce no signature and are
    * dropped (no fingerprint, no dedup verdict — route them aside upstream if
    * they must be kept).
    */
  def mediaNearDupStream(
      media: DataFrame, indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id",
      sigFn: DataFrame => DataFrame = graft.operators.Multimodal.perceptualHash(_, "doc_id"),
      maxHamming: Int = 3, compactIndexAt: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    ExactlyOnce.start(media, checkpointDir)(
      // see curateNearDupStream: replaying against an index holding the
      // crashed attempt's own signatures would drop every replayed item as
      // its own near-dup
      (spark, ckpt, batchId) => {
        ExactlyOnce.purge(spark, outDir, ckpt, batchId)
        ExactlyOnce.purge(spark,
          graft.util.CommitPointer.liveDir(spark, indexDir), ckpt, batchId)
      },
      (batch, ckpt, batchId) => {
        val spark = batch.sparkSession
        val live = maintainIndexDir(spark, indexDir, compactIndexAt)
        val index =
          try spark.read.parquet(live).drop("batch_id", "ckpt_id")
          catch { case _: org.apache.spark.sql.AnalysisException =>
            Dedup.emptyHammingIndex(spark) }
        val sigs = sigFn(batch)
        val surviving = Dedup.incrementalHammingDedup(sigs, index, 64, maxHamming)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          ExactlyOnce.tag(
              batch.join(surviving.select(col("id").alias(idCol)), Seq(idCol), "left_semi"),
              ckpt, batchId)
            .write.mode("append").parquet(outDir)
          ExactlyOnce.tag(surviving.repartition(1), ckpt, batchId)
            .write.mode("append").parquet(live)
        } finally surviving.unpersist()
      })
  }

  /** Streaming corpus curation — the incremental-arrival form of the batch pipeline
    * (`Curation.incrementalDedup` + langID + quality floor) over a document stream
    * (doc_id, ts, text):
    *
    *   1. content-fingerprint dedup WITHIN the stream, state bounded by the
    *      watermark horizon (`dropDuplicatesWithinWatermark` on the fingerprint —
    *      32 hex chars per in-horizon doc, never text);
    *   2. anti-join against the STATIC fingerprint index of the already-curated
    *      corpus (stream–static joins re-plan per micro-batch, so the index can be
    *      a lazily-refreshed view; the stream side never shuffles — the index side
    *      broadcasts when small);
    *   3. map-only language/quality gating (the same codegen'd expressions as the
    *      batch path — `TextAnalysis` columns work unchanged under `readStream`).
    *
    * At 100 TB/day this is the shape that keeps daily crawls incremental: per-batch
    * cost tracks the batch size, never the corpus.
    */
  def curateStream(
      docs: DataFrame, existingFingerprints: DataFrame,
      lateness: String = "1 hour", minQuality: Double = 0.5,
      langs: Set[String] = Set("en")): DataFrame = {
    import graft.operators.TextAnalysis
    val fpCol = existingFingerprints.columns.head
    docs
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .join(existingFingerprints.select(col(fpCol).alias("__fp")), Seq("__fp"), "left_anti")
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("lang_pred").isin(langs.toSeq.map(x => x: Any): _*) &&
        col("quality") >= minQuality)
      .drop("__fp")
  }
  /** Streaming ANN serving: each micro-batch of query vectors is answered
    * against a PERSISTED IVF-PQ index
    * ([[graft.operators.Similarity.loadIvfPq]]). The QUANTIZERS (centroids +
    * codebooks) load once at stream start and are fixed for the stream's
    * lifetime — retraining them requires a restart; the ENCODED CORPUS is
    * re-resolved from `indexDir/codes` on every batch, so a corpus
    * re-encoded under the same quantizers — or grown live with
    * [[graft.operators.Similarity.appendIvfPq]] — is picked up between
    * batches without a restart. Every batch is
    * a stateless [[graft.operators.Similarity.ivfPqQuery]] — per-batch cost
    * tracks the batch (queries broadcast over the codes scan), nothing
    * accumulates — and results land in a PER-BATCH directory
    * (`outDir/batch_id=<n>`, overwrite mode), so foreachBatch's
    * at-least-once replay after a crash rewrites the same directory instead
    * of appending duplicates. Read the output with
    * `spark.read.parquet(outDir)` (batch_id appears as a partition column).
    */
  def annServeStream(
      queries: DataFrame, indexDir: String, outDir: String, checkpointDir: String,
      k: Int = 5, nprobe: Int = 4, rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val quantizers = Similarity.loadIvfPq(queries.sparkSession, indexDir)
    val step = (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) => {
      if (!batch.isEmpty) {
        val index = quantizers.copy(
          codes = batch.sparkSession.read.parquet(s"$indexDir/codes"))
        Similarity.ivfPqQuery(index, batch, k, nprobe, rerank, idCol, vecCol)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      ()
    }
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }
}
