package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** Narrow bridge to `private[sql]` internals: turn a hand-built logical plan into a
  * DataFrame on the session (used by model substitution, which rewrites parsed plans
  * rather than SQL text), and a hand-built catalyst expression into a Column (used by
  * the semantic planner's parse-based lineage rewriting).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** `df`'s analyzed plan as a DataFrame of `spark`: its names are already resolved,
    * so the result executes under `spark` whatever catalog `df` was analyzed in.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    ofRows(spark, df.queryExecution.analyzed)

  /** `plan`, whose names and types are already resolved but whose nodes were
    * rebuilt after analysis (partial-model pruning), checked by the analyzer's
    * final check and marked analyzed, so the analyzer's rule batches do not run
    * over it a second time when a DataFrame is built on it.
    */
  def markAnalyzed(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    spark.asInstanceOf[ClassicSession].sessionState.analyzer.checkAnalysis(plan)
    plan.setAnalyzed()
    plan
  }

  /** `analyzed` optimized like a QueryExecution does (on a clone, `spark` active),
    * but over its sources only: no CacheManager substitution.
    */
  def optimize(spark: SparkSession, analyzed: LogicalPlan): LogicalPlan = {
    val cs = spark.asInstanceOf[ClassicSession]
    cs.withActive {
      val plan = cs.sessionState.optimizer.execute(analyzed.clone())
      plan.setAnalyzed()
      plan
    }
  }

  /** True when the shared CacheManager would swap persisted data into `analyzed`. */
  def substitutesCachedData(spark: SparkSession, analyzed: LogicalPlan): Boolean =
    !(spark.asInstanceOf[ClassicSession].sharedState.cacheManager
      .useCachedData(analyzed) eq analyzed)

  /** DataFrame over an ALREADY analyzed + optimized plan pair: the QueryExecution's
    * analysis and optimization phases are pinned to the supplied plans, so the warm
    * path pays neither (the optimizer alone is ~half of warm planning latency).
    * Only sound when the optimized plan is execution-invariant — the caller must
    * exclude plans with time-dependent foldables (current_timestamp & co., which
    * the optimizer freezes per-optimization) and non-deterministic expressions —
    * and when the CacheManager substitutes nothing into `analyzedPlan`: a pinned
    * plan would miss a substitution that applies now, or keep one that no longer
    * does.
    * Physical planning still runs per call, so nothing stateful (AQE stages,
    * exchange reuse) leaks between executions.
    */
  def ofRowsPreOptimized(
      spark: SparkSession, analyzedPlan: LogicalPlan, optimized: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSession]
    val qe = new org.apache.spark.sql.execution.QueryExecution(cs, analyzedPlan) {
      override lazy val analyzed: LogicalPlan = analyzedPlan
      override lazy val optimizedPlan: LogicalPlan = optimized
    }
    new Dataset[org.apache.spark.sql.Row](qe,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(analyzedPlan.schema))
  }

  /** A private copy of `spark`'s session state (conf, temp views, temp functions)
    * over the same SparkContext and shared state (cache manager, catalog).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a Column into a catalyst expression tree (unlike `expression`,
    * which returns a lazy wrapper that the analyzer will not recurse into — needed
    * when the expression is handed back to the analyzer, e.g. from a function
    * builder).
    */
  def toExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[ClassicSession].expression(c)

  /** Drain the listener bus so SparkListener-accumulated metrics (stage shuffle
    * bytes, etc.) are complete before a measurement tool reads them.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema `spark.read.parquet(path)` infers, read on the driver from one
    * footer instead of by a Spark job. The footer is the one Spark's inference
    * reads when `mergeSchema` is off: `_common_metadata`, else `_metadata`, else
    * the first data file of Spark's own listing (hidden `_`/`.` names skipped).
    * It converts under the session's conf, so `nanosAsLong`, INT96 and
    * binary-as-string read as Spark reads them; partition columns come from
    * the listing's paths and follow the data columns. Spark's own inference runs
    * where one footer cannot give its answer: a merged schema
    * (`spark.sql.parquet.mergeSchema`), a streaming sink's output (listed from
    * its log), a data column that is also a partition column, and a path with
    * no data file (Spark raises its own error).
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val cs = spark.asInstanceOf[ClassicSession]
    val conf = cs.sessionState.conf
    val hadoopConf = cs.sessionState.newHadoopConf()
    def inferred = cs.read.parquet(path).schema
    if (conf.isParquetSchemaMergingEnabled ||
      FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return inferred
    val index = new InMemoryFileIndex(cs, Seq(new Path(path)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries =
      Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val chosen = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    chosen.fold(inferred) { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
      val partitions = index.partitionSchema
      if (schema.fieldNames.exists(n => partitions.fieldNames.exists(conf.resolver(_, n)))) inferred
      else StructType(schema ++ partitions).asNullable // as HadoopFsRelation reads it
    }
  }

  /** `spark.read.parquet(path)` under the schema [[parquetSchema]] reads from a
    * footer, so building the DataFrame starts no schema-inference job.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.format("parquet").schema(parquetSchema(spark, path)).load(path)

  /** Register a plan-time expression builder as a session temp function (the same
    * registry SQL temp functions land in, so `SHOW FUNCTIONS` / drops behave alike).
    */
  def registerFunction(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
