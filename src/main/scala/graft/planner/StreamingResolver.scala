package graft.planner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import graft.mdl.TableReference

/** Structured-Streaming table resolver — the semantic layer over streams.
  *
  * The reference is batch-only (its LocalRuntime executes DataFusion plans over
  * static tables; ibis connectors are all batch, ibis-server/app/model/
  * data_source.py:241-530). On Spark the same governed-model machinery extends
  * to streams for free, because every semantic feature is a lazy plan
  * transformation: models named in `streamTables` resolve to
  * `spark.readStream` file sources and everything the planner layers on top —
  * expression columns, RLAC filters, CLAC column omission, to-one calculated
  * fields (stream⨝static joins), views — composes into a streaming plan that
  * the caller executes with `writeStream` (continuous triggers for live
  * pipelines, `Trigger.AvailableNow` for catch-up batches with streaming
  * fault-tolerance semantics).
  *
  * Scale/semantics notes:
  *   - The schema comes from one existing parquet footer, read on the driver
  *     (`Bridge.parquetSchema`: no Spark job, no data pass) — `readStream`
  *     requires an explicit schema by design.
  *   - `maxFilesPerTrigger` bounds per-micro-batch work on large directories —
  *     the knob that keeps a catch-up run from loading the whole history into
  *     one batch.
  *   - `watermarks` declares per-table event-time watermarks at the SOURCE, so
  *     windowed aggregations over any model/view of the table run append-mode
  *     with bounded state — the difference between a streaming rollup that
  *     runs for months and one that accumulates every window forever.
  *   - To-one calc fields join the STREAM side to static dimension models —
  *     Spark's stream-static join, no watermark needed. To-MANY calc fields
  *     (pre-aggregate + join-back) would be a stream-stream self-join; declare
  *     those models static or aggregate downstream in the query instead.
  *   - `cached: true` is a batch concept (persist) and is skipped for
  *     streaming models at deploy (SemanticPlanner).
  */
final class StreamingPathResolver(
    url: String,
    streamTables: Set[String],
    maxFilesPerTrigger: Option[Int] = None,
    watermarks: Map[String, (String, String)] = Map.empty) extends TableResolver {
  private val static = new PathResolver(url)

  override def resolve(spark: SparkSession, ref: TableReference): DataFrame =
    if (streamTables.contains(ref.table)) {
      val path = s"$url/${ref.table}.parquet"
      val schema = Bridge.parquetSchema(spark, path)
      // FileStreamSource requires a directory (or glob) — a bare single-file
      // table becomes a single-alternative {name} glob so the stream's base
      // path is the parent directory, with zero data movement. Probed through
      // the Hadoop FS API so the check works on any scheme (s3a/hdfs/file),
      // not just the local filesystem.
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val src =
        if (fs.getFileStatus(hPath).isFile) s"$url/{${ref.table}.parquet}" else path
      val reader = spark.readStream.schema(schema)
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
      val df = reader.parquet(src)
      // event-time watermark per table (`table -> (tsColumn, delay)`): bounds
      // the state a windowed aggregation over the governed model accumulates —
      // without it a months-long streaming rollup holds every window forever.
      // Declared HERE (the source) so every model/view planned over the table
      // inherits it; the watermark column must survive the model's projection
      // to take effect downstream.
      watermarks.get(ref.table).fold(df) { case (tsCol, delay) =>
        df.withWatermark(tsCol, delay)
      }
    } else static.resolve(spark, ref)

  override def physicalNames: Seq[String] = static.physicalNames
}
