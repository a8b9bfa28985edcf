package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.ScaleLayout
import graft.sinks.CorpusSink

/** Streaming side of [[graft.sinks.CorpusSink]]: micro-batches of curated documents
  * land as token-budgeted parquet shards under a continuously-extended manifest —
  * the tail of a streaming curation pipeline (dedup → gate → '''shard sink'''), so
  * a training job can start reading finished shards while the crawl is still
  * arriving.
  *
  * Each batch packs its own documents into NEW shards whose `pack_ix` continues
  * per-bucket numbering from the persisted manifest (shards already written are
  * immutable — a reader never observes a shard growing). The cost of that
  * immutability is bounded underfill: at most one under-budget shard per bucket per
  * batch, which small batches amortize by raising the trigger interval rather than
  * reopening files.
  *
  * Scale shape: the manifest read collapses to |buckets| offset rows (broadcast);
  * packing is the bucketed cumulative-sum window; the data write is one shuffle
  * sized by the batch. Both sinks here (and the near-dup streams) are
  * EXACTLY-ONCE under crash-restart via the [[ExactlyOnce]] protocol — see each
  * method's scaladoc for its commit point.
  */
object StreamingCorpusSink {

  /** Start the shard sink over a streaming document frame. Data lands under
    * `dataDir/bucket=N/pack_ix=M/`, manifest rows (with `batch_id`) under
    * `manifestDir`.
    *
    * Per-bucket pack offsets are carried FORWARD between batches in driver memory
    * (≤ `buckets` longs) and read from the manifest only on the run's first batch
    * (restart recovery) — the manifest grows by one file per batch over a stream's
    * lifetime, and re-listing it every trigger would make batch latency grow with
    * stream age. Periodic manifest compaction is a table-format concern, not this
    * sink's.
    *
    * EXACTLY-ONCE under crash-restart, not just at-least-once: a replayed batch
    * (same `batchId`, same rows — Structured Streaming's contract after an
    * unclean stop) is idempotent end to end. Packing is deterministic given the
    * recovered offsets, so a retry targets the SAME `(bucket, pack_ix)`
    * partitions, and the data write uses dynamic partition OVERWRITE — the retry
    * replaces its own partial output instead of appending duplicates, while
    * partitions owned by other batches (always disjoint pack ranges) are
    * untouched. The manifest side: restart recovery first PURGES manifest files
    * of THIS CHECKPOINT INCARNATION's uncommitted batches (checkpoint-scoped
    * tags — see [[ExactlyOnce]]; a fresh checkpoint continuing an existing
    * corpus purges nothing), then derives offsets from the whole surviving
    * manifest — the replay sees exactly the pre-crash state, and a new
    * incarnation continues numbering after every committed shard.
    */
  def shardSinkStream(
      docs: DataFrame, dataDir: String, manifestDir: String, checkpointDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      budget: Int = 2048, buckets: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // bucket -> next free pack_ix, recovered before the incarnation's first
    // batch and carried forward in driver memory after each batch
    var nextPack = Map.empty[Long, Long]
    ExactlyOnce.start(docs, checkpointDir)(
      // Restart recovery: drop manifest files left by an uncommitted run of
      // THIS incarnation (ExactlyOnce protocol — checkpoint-scoped, so a
      // fresh checkpoint continuing an existing corpus purges nothing), then
      // derive offsets from the WHOLE surviving manifest: rows from prior
      // incarnations and pre-protocol rows are committed by definition, which
      // is exactly the continuation pattern.
      (spark, ckpt, batchId) => {
        ExactlyOnce.purge(spark, manifestDir, ckpt, batchId)
        nextPack =
          try spark.read.parquet(manifestDir)
            .groupBy(col("bucket")).agg((max(col("pack_ix")) + 1).alias("off"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          catch { case _: org.apache.spark.sql.AnalysisException => Map.empty }
      },
      (batch, ckpt, batchId) => {
        val spark = batch.sparkSession
        val offMap = nextPack
        // Empty offsets + existing data is legitimate in exactly one state: the
        // data is THIS incarnation's own uncommitted leftovers (batch-0 crash
        // window), which the deterministic dynamic overwrite below replaces.
        // Any OTHER data under empty offsets means the manifest was lost while
        // committed shards survive — pack numbering would restart at 0 and the
        // overwrite would destroy them, so refuse loudly. Data rows carry the
        // protocol tags precisely so this check can tell the two states apart.
        if (offMap.isEmpty) {
          val dPath = new org.apache.hadoop.fs.Path(dataDir)
          val dfs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (dfs.exists(dPath) && dfs.listStatus(dPath).nonEmpty) {
            // When this incarnation has no readable checkpoint id, NOTHING can
            // be recognized as its own leftovers — every existing row is
            // foreign. (With an id, `=!= lit(id)` alone would evaluate to SQL
            // NULL on rows tagged by a prior incarnation only if compared to a
            // null literal — hence the explicit isNull arm, and the None case
            // short-circuits to "all foreign" rather than comparing to NULL.)
            val foreign = ckpt match {
              case Some(id) =>
                spark.read
                  .schema(org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("ckpt_id",
                      org.apache.spark.sql.types.StringType))))
                  .parquet(dataDir)
                  .filter(col("ckpt_id").isNull || col("ckpt_id") =!= lit(id))
                  .limit(1).count() > 0
              case None => true
            }
            require(!foreign,
              s"shardSinkStream: $dataDir holds data not written by this " +
                s"incarnation but no pack offsets could be derived from " +
                s"$manifestDir — restore the manifest before writing, or the " +
                "restarted numbering would overwrite committed shards")
          }
        }
        val fresh = CorpusSink.assignShards(batch, textCol, idCol, budget, buckets)
        val assigned = if (offMap.isEmpty) fresh else {
          val off = spark.createDataFrame(offMap.toSeq).toDF("bucket", "__off")
          fresh.join(broadcast(off), Seq("bucket"), "left")
            .withColumn("pack_ix", col("pack_ix") + coalesce(col("__off"), lit(0L)))
            .drop("__off")
        }
        // two actions consume the assignment (data write + manifest agg): persist
        // the batch-sized frame spill-safely so packing runs once
        val p = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // dynamic overwrite: a batch owns its (bucket, pack_ix) partitions —
          // a replay replaces them; other batches' packs are disjoint by the
          // offset arithmetic and never touched. Data rows carry the protocol
          // tags so the empty-offsets guard above can recognize its own
          // uncommitted leftovers.
          ExactlyOnce.tag(p.repartition(col("bucket"), col("pack_ix")),
              ckpt, batchId)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "pack_ix").parquet(dataDir)
          val manifestDf = ExactlyOnce.tag(CorpusSink.shardManifest(p, idCol),
            ckpt, batchId)
          // |shards-this-batch| rows: tiny — collect once to feed BOTH the manifest
          // append and the forward-carried offsets without a second packing job
          val manifest = manifestDf.collect()
          spark.createDataFrame(
            spark.sparkContext.parallelize(manifest.toIndexedSeq, 1), manifestDf.schema)
            .write.mode("append").parquet(manifestDir)
          val batchMax = manifest
            .groupBy(_.getAs[Long]("bucket"))
            .map { case (b, rows) => b -> (rows.map(_.getAs[Long]("pack_ix")).max + 1) }
          nextPack = offMap ++ batchMax.map { case (b, nx) =>
            b -> math.max(nx, offMap.getOrElse(b, 0L))
          }
        } finally p.unpersist()
      })
  }

  /** Streaming ingest into a min/max-indexed parquet table
    * ([[graft.operators.ScaleLayout.writeIndexed]] semantics maintained per
    * micro-batch): batch 0 creates table + index, every later batch appends and
    * extends the index by scanning ONLY its own files
    * ([[graft.operators.ScaleLayout.appendIndexed]]'s file-level diff). Readers
    * prune with [[graft.operators.ScaleLayout.readPruned]] at any time. Each
    * batch is range-sorted on `statCols` so per-file envelopes stay tight — the
    * streaming analogue of the z-order layout's within-file locality.
    *
    * EXACTLY-ONCE under crash-restart, with the INDEX as the commit point:
    * every index row carries its checkpoint-scoped batch tag ([[ExactlyOnce]]),
    * and a restarted query's first batch recovers before writing — index files
    * of THIS incarnation's uncommitted batches are purged (a fresh checkpoint
    * over an existing table purges nothing), then any data file absent from
    * the surviving index is deleted (the crash window between data append and
    * index append; unindexed files were never committed by ANY incarnation,
    * so dropping them is safe across restarts and takeovers). The
    * replay then re-appends cleanly: no duplicate rows in data or index.
    * Readers that must never observe an in-flight batch read via the index
    * (`readPruned`); a plain directory read can see (only) the current batch's
    * not-yet-committed files.
    */
  def indexedSinkStream(
      rows: DataFrame, dataDir: String, checkpointDir: String,
      statCols: Seq[String], batchPartitions: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    ExactlyOnce.start(rows, checkpointDir)(
      recoverIndexed(_, dataDir, _, _),
      (batch, ckpt, batchId) => {
        val spark = batch.sparkSession
        val ranged = if (batchPartitions > 0)
          batch.repartitionByRange(batchPartitions, statCols.map(col): _*)
        else batch
        val sorted = ranged.sortWithinPartitions(statCols.map(col): _*)
        val tag = ExactlyOnce.tagCols(ckpt, batchId)
        if (ScaleLayout.committedIndexDir(spark, dataDir).isDefined)
          ScaleLayout.appendIndexed(sorted, dataDir, statCols, tag)
        else ScaleLayout.writeIndexed(sorted, dataDir, statCols, tag)
      })
  }

  /** [[indexedSinkStream]]'s restart recovery, run before an incarnation's
    * first batch writes.
    */
  private def recoverIndexed(
      spark: SparkSession, dataDir: String, ckpt: Option[String], batchId: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // The COMMITTED index version dir (versioned layout, or the flat legacy
    // dir) — appendIndexed extends this same dir, so purge targets it too.
    val idxDir = ScaleLayout.committedIndexDir(spark, dataDir).getOrElse(return)
    val idxPath = new org.apache.hadoop.fs.Path(idxDir)
    if (!idxPath.getFileSystem(conf).exists(idxPath)) return
    // 1. purge index files from batches THIS incarnation never committed
    // (checkpoint-scoped: a fresh checkpoint over an existing table purges
    // nothing, so step 2 sees every committed file as live)
    ExactlyOnce.purge(spark, idxDir, ckpt, batchId)
    // 2. delete data files the surviving index does not reference — the
    // crash window between data append and index append
    val live =
      try spark.read.parquet(idxDir)
        .select("file").collect().map(_.getString(0)).toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty[String] }
    val dPath = new org.apache.hadoop.fs.Path(dataDir)
    dPath.getFileSystem(conf).listStatus(dPath).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !live.contains(n))
        st.getPath.getFileSystem(conf).delete(st.getPath, false)
    }
    // all batches purged: restart the table fresh
    if (live.isEmpty) ScaleLayout.dropIndex(spark, dataDir)
  }
}
