package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EntityResolution

/** Streaming side of [[graft.operators.EntityResolution.incrementalLink]]:
  * dedupe-on-ingest as a running query. Each micro-batch of records
  * fuzzy-links to the ACCUMULATED canonical catalog; matched records adopt
  * their catalog entity, unmatched records canonicalize among themselves and
  * extend the catalog — so the catalog grows by distinct entities, never by
  * records ingested, and the per-trigger linkage join's build side stays
  * entity-sized over the stream's whole lifetime.
  *
  * Directory contract: `assignDir` accumulates one (id, entity_id) row per
  * ingested record; `catalogDir` accumulates canonical (id, name) rows — the
  * caller may seed it with an existing catalog (plain parquet, no protocol
  * tags needed) or start empty. Record ids must be globally unique across the
  * stream and distinct from seeded catalog ids (the production key contract
  * for record linkage; the new-entity rows are recognized as
  * `entity_id == id`).
  *
  * FILE-COUNT MAINTENANCE (round-14 weak-flag fix): both directories gain one
  * parquet file-set per batch, so a months-long stream would pay O(batches)
  * listing/footer overhead per trigger. Every `compactAt` files each dir is
  * rewritten untagged into a fresh [[graft.util.CommitPointer]] generation
  * ([[DirCompaction]] — the same rewrite the near-dup index sinks use), at
  * the only safe instant: batch start, after restart recovery, when every
  * file present is committed. Readers should resolve the live generation via
  * [[catalogTable]]/[[assignmentsTable]] (a flat read of the root still works
  * until the first compaction). Additionally the catalog is CARRIED BETWEEN
  * TRIGGERS driver-side ([[graft.operators.EntityResolution.incrementalLink]]
  * 's `updatedCatalog` contract, localCheckpoint-snapped per batch): after the
  * first batch of an incarnation the per-trigger catalog read costs zero file
  * listings — disk is the recovery copy, not the hot path.
  *
  * EXACTLY-ONCE under crash-restart via the [[ExactlyOnce]] protocol: both
  * appended directories are (ckpt_id, batch_id)-tagged, restart recovery
  * purges THIS incarnation's uncommitted batch files from both before the
  * replay runs, and the replay then re-derives byte-identical output —
  * `incrementalLink` is deterministic given (batch, catalog), and after the
  * purge the catalog visible to the replay equals the pre-crash state.
  * Seeded/pre-protocol catalog files carry no tags and are never purged;
  * compacted generations are untagged by construction, so they are equally
  * purge-proof (and compaction never runs with an uncommitted batch on disk —
  * the quiet-point caveat [[ExactlyOnce.purge]] documents).
  */
object StreamingEntityResolution {

  /** Fault injection for StreamingEntityResolutionSpec's cache-loss test:
    * when set, the next cached-catalog use evaluates a frame that fails at
    * action time, exercising the disk fallback below. Never set outside
    * tests; reset on use.
    */
  @volatile private[streaming] var failCachedCatalogOnce: Boolean = false

  def linkStream(
      records: DataFrame, catalogDir: String, assignDir: String,
      checkpointDir: String, nameCol: String = "name", idCol: String = "id",
      maxDist: Int = 2, maxBlock: Int = 10000, blocking: String = "bigram",
      compactAt: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the accumulated catalog, carried between triggers (entity-sized;
    // localCheckpoint-snapped so lineage never chains across batches) — None
    // until the incarnation's first batch reads it from disk
    var catalogCache: Option[DataFrame] = None
    ExactlyOnce.start(records, checkpointDir)(
      // purge targets the LIVE generation — tagged per-batch appends only ever
      // land there; compacted generations are untagged and would never match,
      // so scanning them would be pure waste
      (spark, ck, batchId) => {
        ExactlyOnce.purge(spark,
          graft.util.CommitPointer.liveDir(spark, assignDir), ck, batchId)
        ExactlyOnce.purge(spark,
          graft.util.CommitPointer.liveDir(spark, catalogDir), ck, batchId)
      },
      (batch, ck, batchId) => {
        val spark = batch.sparkSession
        // AFTER the purge (compacting first would launder a crashed attempt's
        // uncommitted rows into untagged permanence)
        val liveAssign = DirCompaction.maintain(spark, assignDir, compactAt)
        val liveCatalog = DirCompaction.maintain(spark, catalogDir, compactAt)
        val in = batch.select(col(idCol), col(nameCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def diskCatalog(): DataFrame =
          readCatalog(spark, liveCatalog, idCol, nameCol,
            in.schema(idCol).dataType, in.schema(nameCol).dataType)
        def runBatch(catalog: DataFrame): Unit = {
          val (assigned, _) = EntityResolution.incrementalLink(
            in, catalog, nameCol, idCol, maxDist, maxBlock, blocking)
          val tagged = ExactlyOnce.tag(assigned, ck, batchId)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            tagged.write.mode("append").parquet(liveAssign)
            // new canonical entities: self-canonical assignments (the catalog's
            // ids are disjoint from the batch's by the key contract), joined
            // back to the batch for their names
            val fresh = tagged.filter(col("id") === col("entity_id"))
              .select(col("id").alias(idCol))
              .join(in, Seq(idCol))
              .select(col(idCol), col(nameCol))
            // one catalog file per batch (entity-sized additions): repartition,
            // not coalesce, so the linkage join upstream keeps its parallelism
            ExactlyOnce.tag(fresh.repartition(1), ck, batchId)
              .write.mode("append").parquet(liveCatalog)
            // carry the extended catalog to the next trigger: the union is
            // snapped eagerly so (a) it no longer references `in`/`tagged`
            // (unpersisted below) and (b) lineage depth stays O(1) over the
            // stream's lifetime; the superseded snapshot is reclaimed by the
            // ContextCleaner once unreferenced. COALESCE to a fixed partition
            // count first — union CONCATENATES partition lists, so without it
            // the carried frame gains the join's ~32 partitions per batch and
            // per-trigger task overhead grows linearly with stream age
            // (measured: flatness 3.2 at 100 batches from exactly this; the
            // coalesce is narrow — no shuffle of the entity rows)
            val parts = math.max(2, spark.sparkContext.defaultParallelism / 4)
            catalogCache = Some(catalog.union(fresh).coalesce(parts).localCheckpoint())
          } finally tagged.unpersist()
        }
        val cached = catalogCache
        try {
          val first = cached match {
            case Some(c) if failCachedCatalogOnce =>
              failCachedCatalogOnce = false
              // fault injection (spec-only): a carried frame that fails at
              // action time, standing in for the lost-executor block-fetch
              // failure local mode cannot produce
              c.withColumn(nameCol,
                expr(s"if(true, raise_error('injected cache loss'), `$nameCol`)"))
            case Some(c) => c
            case None => diskCatalog()
          }
          try runBatch(first)
          catch {
            case scala.util.control.NonFatal(e) if cached.nonEmpty =>
              // availability fallback (r15 ADVICE): the carried snapshot is
              // localCheckpoint-backed — executor-local, unreplicated — so on
              // a real cluster an executor loss makes it unreadable mid-batch.
              // Disk still holds every COMMITTED row: purge this batch's
              // partial appends (the crash-replay rule — same (ckpt, batch)
              // tags), drop the cache, and re-run the batch from the live
              // generation. Correctness was never at risk (restart recovery
              // covers it); this keeps the STREAM alive without a restart.
              catalogCache = None
              ExactlyOnce.purge(spark, liveAssign, ck, batchId)
              ExactlyOnce.purge(spark, liveCatalog, ck, batchId)
              runBatch(diskCatalog())
          }
        } finally in.unpersist()
      })
  }

  /** The accumulated catalog as a readable table — resolves the live
    * [[graft.util.CommitPointer]] generation and hides the protocol tags.
    */
  def catalogTable(spark: SparkSession, catalogDir: String): DataFrame =
    spark.read.parquet(graft.util.CommitPointer.liveDir(spark, catalogDir))
      .drop("batch_id", "ckpt_id")

  /** The accumulated (id, entity_id) assignments — live generation, untagged. */
  def assignmentsTable(spark: SparkSession, assignDir: String): DataFrame =
    spark.read.parquet(graft.util.CommitPointer.liveDir(spark, assignDir))
      .drop("batch_id", "ckpt_id")

  /** The accumulated catalog: seeded rows plus every committed generation.
    * Selecting just (id, name) keeps tagged and untagged files readable in one
    * scan regardless of which footer schema inference sampled.
    */
  private def readCatalog(
      spark: SparkSession, dir: String, idCol: String, nameCol: String,
      idType: org.apache.spark.sql.types.DataType,
      nameType: org.apache.spark.sql.types.DataType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      spark.read.parquet(dir).select(col(idCol), col(nameCol))
    else {
      // empty bootstrap: column types mirror the incoming batch's
      import org.apache.spark.sql.types._
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField(idCol, idType), StructField(nameCol, nameType))))
    }
  }
}
