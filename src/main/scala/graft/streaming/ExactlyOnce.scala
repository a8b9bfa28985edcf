package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Crash-replay idempotence for `foreachBatch` parquet appends.
  *
  * Protocol: every append tags its rows with the writing incarnation's
  * CHECKPOINT ID and the batch id; on restart the query's first batch calls
  * [[purge]] on each appended directory before writing. A file is an
  * uncommitted leftover — and deleted — only when BOTH hold: it was written by
  * THIS checkpoint's incarnation (same `ckpt_id`) and its batch was never
  * committed (`batch_id >=` the replayed one). Scoping by checkpoint id is what
  * makes the protocol safe across incarnations: Structured Streaming batch ids
  * restart at 0 per checkpoint, so a bare `batch_id >= 0` rule would judge an
  * ENTIRE committed table "uncommitted" the moment a new query with a fresh
  * checkpoint pointed at it (the continuation pattern every sink here
  * documents). Files from other incarnations — and pre-protocol files with no
  * tags at all — never match and are never purged.
  *
  * Closing the replay gap matters twice over: it removes at-least-once
  * duplicate rows, and for dedup-against-index operators it removes the worse
  * failure of replaying against an index polluted by the crashed attempt's own
  * rows — which would drop every replayed doc as a "duplicate" (silent data
  * loss, not duplication).
  */
private[streaming] object ExactlyOnce {

  /** Start `df` as a `foreachBatch` query under this protocol — the one
    * lifecycle every exactly-once sink here shares. Per incarnation, the
    * checkpoint id is read once (it is fixed for the query's lifetime; on
    * object stores each read is a remote GET) and `recover(spark, ckptId,
    * batchId)` runs before the incarnation's first batch writes — the point
    * where a sink [[purge]]s its uncommitted leftovers. Every batch then runs
    * `write(batch, ckptId, batchId)`, which tags what it appends with
    * `(ckptId, batchId)`.
    */
  def start(df: DataFrame, checkpointDir: String)(
      recover: (SparkSession, Option[String], Long) => Unit,
      write: (DataFrame, Option[String], Long) => Unit): StreamingQuery = {
    var ckpt: Option[Option[String]] = None // Some once this incarnation recovered
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val id = ckpt.getOrElse {
          val id = checkpointId(batch.sparkSession, checkpointDir)
          recover(batch.sparkSession, id, batchId)
          ckpt = Some(id)
          id
        }
        write(batch, id, batchId)
      }
      .start()
  }

  /** The tag columns appended to every protocol write. `batch_id`/`ckpt_id`
    * are RESERVED on protocol outputs: withColumn would silently overwrite a
    * user column of the same name (corrupting e.g. an upstream ingestion
    * batch_id), so collide loudly instead.
    */
  def tag(df: DataFrame, ckptId: Option[String], batchId: Long): DataFrame = {
    Seq("batch_id", "ckpt_id").foreach(c => require(!df.columns.contains(c),
      s"column '$c' is reserved by the exactly-once sink protocol — rename it " +
        "upstream before writing through this sink"))
    tagCols(ckptId, batchId).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
  }

  /** The same tags as (name, column) pairs, for writers that thread extra
    * columns through another API (e.g. ScaleLayout's `indexExtra`).
    */
  def tagCols(ckptId: Option[String], batchId: Long): Seq[(String, org.apache.spark.sql.Column)] =
    Seq("batch_id" -> lit(batchId),
      "ckpt_id" -> lit(ckptId.orNull).cast(StringType))

  /** The checkpoint's stable query id (`<ckpt>/metadata`, written at first
    * start — so it exists by the time any foreachBatch body runs). A FRESH
    * checkpoint gets a fresh id, which is exactly the incarnation boundary the
    * purge rule needs. None (missing/unreadable metadata) disables purging —
    * fail safe, never destructive.
    */
  private def checkpointId(spark: SparkSession, checkpointDir: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          out.toString("UTF-8")
        } finally in.close()
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      }
    } catch { case _: Exception => None }

  /** Delete files under `dir` owned by uncommitted batches of THIS checkpoint
    * incarnation. Reads with an EXPLICIT two-column schema, so files lacking
    * the tag columns (pre-protocol data, foreign writers) surface as nulls and
    * fail the filter instead of poisoning schema inference into a silent
    * no-op; the equality+range filter pushes down to parquet row-group stats,
    * so committed files are skipped on footer metadata alone — recovery cost
    * tracks the crashed tail, not the table.
    *
    * File-granular deletion is sound only while every file holds a single
    * (ckpt_id, batch_id) — true for every protocol writer here, but a
    * compaction (e.g. ScaleLayout.optimizeZorder) run over a protocol
    * directory WHILE a batch is uncommitted would merge committed rows into a
    * file that also carries the stale tag. So each candidate is re-read and a
    * file that ALSO holds non-stale rows aborts the purge loudly instead of
    * destroying the committed rows it contains (the verification pass reads
    * only the candidate files — recovery cost still tracks the crashed tail).
    * Compact protocol directories only at a quiet point (stream stopped, last
    * batch committed), or strip the tag columns during compaction so purged
    * incarnations can never match a compacted file.
    */
  def purge(spark: SparkSession, dir: String, ckptId: Option[String], batchId: Long): Unit = {
    val id = ckptId.getOrElse(return)
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(conf).exists(path)) return
    val tagSchema = StructType(Seq(
      StructField("batch_id", LongType), StructField("ckpt_id", StringType)))
    val staleCond = col("ckpt_id") === lit(id) && col("batch_id") >= lit(batchId)
    val stale =
      try spark.read.schema(tagSchema).parquet(dir)
        .filter(staleCond)
        .select(input_file_name().alias("__f")).distinct()
        .collect().map(_.getString(0))
      catch { case _: org.apache.spark.sql.AnalysisException => Array.empty[String] }
    if (stale.isEmpty) return
    val mixed = spark.read.schema(tagSchema).parquet(stale.toIndexedSeq: _*)
      .filter(!coalesce(staleCond, lit(false)))
      .select(input_file_name().alias("__f")).distinct()
      .collect().map(_.getString(0))
    require(mixed.isEmpty,
      s"exactly-once purge: ${mixed.length} file(s) under $dir mix uncommitted " +
        s"rows of checkpoint $id (batch >= $batchId) with committed/foreign rows " +
        s"— a compaction ran while a batch was uncommitted. Deleting them would " +
        s"destroy committed data; split or restore them first. First: ${mixed.head}")
    stale.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      p.getFileSystem(conf).delete(p, false)
    }
  }
}
