package graft.planner

import scala.collection.mutable

import org.apache.spark.sql.{Column => SCol, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal, WindowExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.mdl._

/** Resolves a model's physical source to a DataFrame. The reference's analogue is the
  * per-connector table provider (ibis-server/app/model/data_source.py:241-530 plus
  * DataFusion ListingTable registration, wren-core/core/src/mdl/mod.rs:113-167); on
  * Spark every source funnels through `spark.read` / `spark.table`.
  */
trait TableResolver {
  def resolve(spark: SparkSession, ref: TableReference): DataFrame
  /** Resolve with the model's declared column types as a schema hint. Resolvers for
    * self-describing sources (parquet, catalog, JDBC) ignore the hint; text sources
    * (CSV) use it to skip schema inference — the MDL already declares every type, and
    * `inferSchema` costs a full extra pass over the data at scale.
    */
  def resolve(
      spark: SparkSession, ref: TableReference,
      declared: Seq[(String, org.apache.spark.sql.types.DataType)]): DataFrame =
    resolve(spark, ref)
  /** Physical table names (used to pre-register temp views for refSql models). */
  def physicalNames: Seq[String] = Nil
}

/** Connection info for cloud object stores — the Spark shape of the reference's
  * S3File/GcsFile/MinioFile connection info (ibis-server/app/model/data_source.py:
  * 241-530, S3FileConnectionInfo et al.). Credentials apply as PER-BUCKET Hadoop
  * S3A configuration (`fs.s3a.bucket.<bucket>.*`), not global keys, so two
  * deployments against different buckets/endpoints coexist on one SparkSession.
  */
final case class CloudConnection(
    accessKey: Option[String] = None,
    secretKey: Option[String] = None,
    endpoint: Option[String] = None, // MinIO/S3-compatible endpoint URL
    region: Option[String] = None,
    pathStyleAccess: Boolean = false) {

  /** Apply as bucket-scoped S3A conf for the bucket of `url` (e.g. `s3a://b/dir`). */
  def configure(spark: SparkSession, url: String): Unit = {
    val bucket = url.stripPrefix("s3a://").stripPrefix("s3://").takeWhile(_ != '/')
    require(bucket.nonEmpty, s"cloud url $url has no bucket")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = s"fs.s3a.bucket.$bucket"
    accessKey.foreach(conf.set(s"$p.access.key", _))
    secretKey.foreach(conf.set(s"$p.secret.key", _))
    endpoint.foreach(conf.set(s"$p.endpoint", _))
    region.foreach(conf.set(s"$p.endpoint.region", _))
    if (pathStyleAccess) conf.set(s"$p.path.style.access", "true")
  }
}

/** Directory of `<table>.<ext>` files — the reference's LocalFile/S3File connection
  * shape `{url, format}` (ibis-server/tests/.../local_file/conftest.py:21-25).
  * `cloud` carries object-store credentials for `s3a://` urls (applied bucket-scoped
  * at construction, mirroring the reference's per-connector connection info).
  *
  * A parquet source's schema is read from its footer on the driver
  * (`Bridge.parquetSchema`), so resolving one starts no Spark job. The CSV
  * header read below still runs one job per CSV source; it is left as is.
  */
final class PathResolver(
    url: String, format: String = "parquet",
    cloud: Option[CloudConnection] = None) extends TableResolver {
  private val ext = format match { case "csv" => "csv"; case "json" => "json"; case _ => "parquet" }

  if (url.startsWith("s3a://") || url.startsWith("s3://"))
    cloud.foreach(_.configure(SparkSession.active, url))

  override def resolve(spark: SparkSession, ref: TableReference): DataFrame =
    resolve(spark, ref, Nil)

  override def resolve(
      spark: SparkSession, ref: TableReference,
      declared: Seq[(String, org.apache.spark.sql.types.DataType)]): DataFrame = {
    val path = s"$url/${ref.table}.$ext"
    format match {
      case "csv" if declared.nonEmpty =>
        // Schema from the MDL declaration, not inference: a header-only read (no
        // inferSchema — Spark reads just the first line) supplies the file's column
        // order; declared columns take their declared type, anything the model
        // doesn't declare stays string (CSV cells are text — expression columns
        // cast what they need). Exactly ONE full pass over the file remains.
        val byName = declared.map { case (n, t) => n.toLowerCase -> t }.toMap
        val header = spark.read.option("header", "true").csv(path).schema.fieldNames
        val schema = org.apache.spark.sql.types.StructType(header.map(n =>
          org.apache.spark.sql.types.StructField(
            n, byName.getOrElse(n.toLowerCase, org.apache.spark.sql.types.StringType))))
        spark.read.format("csv").option("header", "true").schema(schema).load(path)
      case "csv" =>
        // No declaration to read from (refSql pre-registration, expression-only
        // models): inference is the only source of types — the extra pass is the
        // price of not declaring.
        spark.read.format("csv")
          .option("header", "true").option("inferSchema", "true").load(path)
      case "parquet" =>
        Bridge.readParquet(spark, path)
      case _ =>
        spark.read.format(format).load(path)
    }
  }

  /** Listed through the Hadoop FS API, so `file:` and `s3a://` urls list too. */
  override def physicalNames: Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(url)
    val fs = dir.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(s".$ext")).map(_.stripSuffix(s".$ext"))
  }
}

/** Resolve through the Spark catalog (managed/JDBC/DSv2 tables). */
final class CatalogResolver extends TableResolver {
  override def resolve(spark: SparkSession, ref: TableReference): DataFrame =
    spark.table(ref.dotted)
}

/** Range-partitioning spec for a JDBC table scan: Spark opens `numPartitions`
  * connections, each reading `column BETWEEN` a stride of [lowerBound, upperBound]
  * (rows outside the bounds land in the first/last partition — bounds shape the
  * split, they don't filter). The column should be indexed and roughly uniform;
  * a model's numeric primary key is the usual choice.
  *
  * Bounds left as `None` are AUTO-DERIVED at first resolve: the resolver probes
  * `SELECT min(column), max(column)` over one remote connection (a cheap indexed
  * aggregate) and caches the result, so users get parallel scans without
  * hand-tuning bounds to the remote table's key range.
  */
final case class JdbcPartitioning(
    column: String, numPartitions: Int,
    lowerBound: Option[Long] = None, upperBound: Option[Long] = None)

object JdbcPartitioning {
  /** Explicit-bounds shape (the original signature, kept for declared ranges). */
  def apply(column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)
      : JdbcPartitioning =
    JdbcPartitioning(column, numPartitions, Some(lowerBound), Some(upperBound))
}

/** Resolve over a JDBC connection — the funnel for the reference's warehouse
  * connectors (Postgres/MySQL/Trino/…, data_source.py:241-530): on Spark they are
  * all `spark.read.jdbc`, and Catalyst pushes filters/projections down to the remote
  * (JDBCScan PushedFilters), replacing the reference's unparse-to-dialect layer.
  *
  * Remote scans parallelize through per-table partitioning carried in the connection
  * shape (the Spark analogue of the reference's per-connector connection info):
  * `partitioning` range-splits on a numeric column; `predicates` gives one remote
  * WHERE clause per partition for keys a range can't split (hash buckets, enum
  * columns). A table in neither map reads through a single connection — fine for
  * dimension-sized tables, a bottleneck for facts, so size partitioning to the
  * remote table, not to Spark.
  */
final class JdbcResolver(
    url: String,
    connectionProperties: java.util.Properties = new java.util.Properties,
    partitioning: Map[String, JdbcPartitioning] = Map.empty,
    predicates: Map[String, Seq[String]] = Map.empty) extends TableResolver {

  private def forTable[T](m: Map[String, T], ref: TableReference): Option[T] =
    m.collectFirst {
      case (k, v) if k.equalsIgnoreCase(ref.dotted) || k.equalsIgnoreCase(ref.table) => v
    }

  /** (min, max) of the partitioning column, probed once per table over a single
    * remote connection and cached for the resolver's lifetime — repeat resolves of
    * the same table (warm plan cache, multiple models) never re-probe.
    */
  private val probedBounds = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]

  private def bounds(spark: SparkSession, ref: TableReference, p: JdbcPartitioning): (Long, Long) = {
    def probe(): (Long, Long) =
      probedBounds.computeIfAbsent(ref.dotted.toLowerCase, _ => {
        val q = s"(SELECT min(${p.column}) AS lo, max(${p.column}) AS hi FROM ${ref.dotted}) AS probe"
        val row = spark.read.jdbc(url, q, connectionProperties).head()
        def asLong(i: Int): Long = row.get(i) match {
          case null => 0L
          case n: Number => n.longValue
          case d: java.sql.Date => d.getTime
          case t: java.sql.Timestamp => t.getTime
          case o => o.toString.toLong
        }
        (asLong(0), asLong(1))
      })
    val lo = p.lowerBound.getOrElse(probe()._1)
    val hi = p.upperBound.getOrElse(probe()._2)
    (lo, math.max(hi, lo + 1)) // Spark requires lowerBound < upperBound
  }

  override def resolve(spark: SparkSession, ref: TableReference): DataFrame =
    forTable(partitioning, ref) match {
      case Some(p) =>
        val (lo, hi) = bounds(spark, ref, p)
        spark.read.jdbc(
          url, ref.dotted, p.column, lo, hi, p.numPartitions, connectionProperties)
      case None =>
        forTable(predicates, ref) match {
          case Some(preds) if preds.nonEmpty =>
            spark.read.jdbc(url, ref.dotted, preds.toArray, connectionProperties)
          case _ => spark.read.jdbc(url, ref.dotted, connectionProperties)
        }
    }
}

final class GraftException(msg: String) extends RuntimeException(msg)

/** View-generation semantic planner.
  *
  * Implements the reference's semantic analysis (ModelAnalyzeRule/ModelGenerationRule/
  * RelationChain/CalculationPlanNode, wren-core/core/src/logical_plan/analyze/) as a
  * pre-pass that materializes each model as a governed DataFrame registered as a temp
  * view in `spark`; Catalyst then does column pruning, predicate pushdown, and join
  * planning on the expanded plan natively (SURVEY.md §4.2 — no custom optimizer rules
  * needed).
  *
  * `spark` is the deployment's own session (GraftEngine hands each planner a clone
  * of the caller's session, like the reference's per-manifest SessionContext,
  * mdl/mod.rs:420-454): its temp views, macros and timezone belong to this
  * deployment alone, so no other deployment can shadow them.
  *
  * Per model (plan.rs:63-560 re-expressed Spark-first):
  *   source scan → expression columns (ModelSourceNode, plan.rs:891-1035)
  *   → to-one calculated fields via a left-join relation chain
  *     (RelationChain, relation_chain.rs:35-299 — reference emits right joins with the
  *     base on the right; we keep the base on the left, which is the same plan)
  *   → to-many calculated fields via pre-aggregation on the related side joined back on
  *     the primary key (CalculationPlanNode, plan.rs:1038-1146) — decorrelation by
  *     construction, and at scale a single shuffle of the related table by FK
  *   → CLAC column dropping (context.rs:343-365) → RLAC filters
  *     (model_generation.rs:88-129) → temp view.
  */
final class SemanticPlanner(
    val spark: SparkSession,
    manifest: Manifest,
    resolver: TableResolver,
    properties: Map[String, String]) {

  private val props: Map[String, String] = properties.map { case (k, v) => k.toLowerCase -> v }
  private val baseCache = mutable.Map[String, DataFrame]()
  private val modelCache = mutable.Map[String, DataFrame]()
  // models currently being built — a re-entry is a calc-field dependency cycle
  // (the reference's is_dag check, plan.rs:322-326)
  private val inProgress = mutable.LinkedHashSet[String]()

  // ---------------------------------------------------------------- deploy

  // Raw source scans captured at deploy, addressable by the model's full physical
  // tableReference (dotted, lowercase) — `datafusion.public.orders` keeps resolving
  // to the source even after the model's temp view shadows the bare table name.
  private val srcCache = mutable.Map[String, DataFrame]()
  private var rawViews: Map[String, String] = Map.empty

  /** Build and register every model, view, metric and macro. */
  def deploy(): Unit = {
    // 1. refSql models parse against *physical* names: pre-register those views.
    val hasRefSql = manifest.models.exists(_.refSql.nonEmpty)
    if (hasRefSql) {
      resolver.physicalNames.foreach { t =>
        resolver.resolve(spark, TableReference(table = t)).createOrReplaceTempView(t)
      }
    }
    // 2. Eagerly analyze every base DF (captures plans before model views shadow
    //    physical names), then build + register the governed model views.
    manifest.models.foreach(baseDF)
    // 2.1 Keep the raw sources reachable by their physical names: a query naming a
    //     model's full tableReference reads the source scan, not the model (the
    //     reference's LocalRuntime sessions keep the underlying catalog visible —
    //     sqllogictest model.slt queries `datafusion.public.order_items` directly).
    srcCache.foreach { case (dotted, src) =>
      val vn = "__graft_raw_" + dotted.replaceAll("[^a-zA-Z0-9]", "_")
      src.createOrReplaceTempView(vn)
      rawViews += dotted -> vn
    }
    manifest.models.foreach { m =>
      val df0 = modelDF(m)
      // `cached: true` models persist spill-safely (the reference materializes
      // cached models on a refresh schedule, manifest-macro lib.rs:146-165;
      // refreshTime is advisory here — Spark re-persists lazily on eviction).
      // Streaming models skip it: persist is a batch concept, and a streaming
      // plan rejects it — caching happens per-micro-batch downstream if at all.
      val df = if (m.cached && !df0.isStreaming) df0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df0
      df.createOrReplaceTempView(m.name)
    }
    // 2.5 v2 macros deploy as SQL temp functions — Catalyst inlines the body into
    //     every caller, which IS the reference's expand-at-rewrite semantics
    //     (Macro.java:42-56); param types map through TypeMapper.
    manifest.macros.foreach { m =>
      val params = m.parameters
        .map { case (n, t) => s"`$n` ${graft.mdl.TypeMapper.toSpark(t).sql}" }
        .mkString(", ")
      spark.sql(
        s"CREATE OR REPLACE TEMPORARY FUNCTION `${m.name}`($params) RETURN ${normalizeQuotes(m.body)}")
    }
    // 3. MDL views are plain SQL over models (ViewTable, context.rs:320-327).
    //    View statements are MDL-dialect SQL: double-quoted identifiers normalize
    //    to backticks (the reference parses them as ANSI identifiers).
    manifest.views.foreach { v =>
      runSql(normalizeQuotes(v.statement)).createOrReplaceTempView(v.name)
    }
    // 4. v2 metrics (grouped rollups; metric-on-metric allowed) and cumulative
    //    metrics (per-period agg + running window over the date spine).
    deployMetrics((manifest.models.map(_.name) ++ manifest.views.map(_.name)).toSet)
    // 5. The `timezone` property (the `x-wren-timezone` analogue, context.rs:50-52)
    //    becomes the session zone only now: the plans above bound the deploy-time
    //    zone, and only user queries analyze under the property's zone.
    propValue("timezone").foreach(spark.conf.set("spark.sql.session.timeZone", _))
  }

  /** Register metric views in dependency order (a metric's baseObject may be a
    * model, a view, or another metric — MetricSqlRender.render, MetricSqlRender.java:87-104).
    * Metrics whose base was pruned away (manifest extraction) are skipped like any
    * other unreferenced object. Each `timeGrain` additionally registers
    * `<metric>_<grain>_<datepart>` rollup views (TimeGrain.java:26-47).
    */
  private def deployMetrics(available: Set[String]): Unit = {
    var known = available.map(_.toLowerCase)
    // one fixpoint over BOTH kinds so metrics may layer on cumulative metrics and
    // vice versa; whatever stays blocked had its base pruned (or is cyclic) and is
    // skipped like any other unreferenced object
    var pending: List[Either[Metric, CumulativeMetric]] =
      manifest.metrics.map(Left(_)) ++ manifest.cumulativeMetrics.map(Right(_))
    var progressed = true
    while (pending.nonEmpty && progressed) {
      val (ready, blocked) = pending.partition {
        case Left(m) => known.contains(m.baseObject.toLowerCase)
        case Right(cm) => known.contains(cm.baseObject.toLowerCase)
      }
      progressed = ready.nonEmpty
      ready.foreach {
        case Left(m) =>
          val base = spark.table(m.baseObject)
          def colExpr(c: graft.mdl.Column) =
            expr(normalizeQuotes(c.expression.getOrElse(c.name))).alias(c.name)
          val dims = m.dimension.map(colExpr)
          val measures = m.measure.map(colExpr)
          val df0 =
            if (dims.isEmpty) base.agg(measures.head, measures.tail: _*)
            else base.groupBy(dims: _*).agg(measures.head, measures.tail: _*)
          val df = if (m.cached) df0.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df0
          df.createOrReplaceTempView(m.name)
          known += m.name.toLowerCase
          for (tg <- m.timeGrain; part <- tg.dateParts) {
            val grainCol = date_trunc(part, col(tg.refColumn)).alias(tg.name)
            val gdf = base.groupBy(dims :+ grainCol: _*).agg(measures.head, measures.tail: _*)
            val gname = s"${m.name}_${tg.name}_${part.toLowerCase}"
            gdf.createOrReplaceTempView(gname)
            known += gname.toLowerCase
          }
        case Right(cm) =>
          cumulativeMetricDF(cm).createOrReplaceTempView(cm.name)
          known += cm.name.toLowerCase
      }
      pending = blocked
    }
  }

  private def cumulativeMetricDF(cm: CumulativeMetric): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    {
        val base = spark.table(cm.baseObject)
        val w = cm.window
        val unit = w.timeUnit.toLowerCase
        val ref = col(w.refColumn).cast("timestamp")
        val cumWindow = Window.orderBy(col(w.name))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mcol = col(cm.measure.refColumn)
        // Per-period partials compose into the running value: sums/counts add,
        // min/max fold, avg = running sum / running count (an avg of avgs would be
        // wrong whenever periods differ in size).
        val (perAggs, cumCol) = cm.measure.operator match {
          case "sum" => (Seq(sum(mcol).alias("__a")), sum(col("__a")).over(cumWindow))
          case "count" => (Seq(count(mcol).alias("__a")), sum(col("__a")).over(cumWindow))
          case "min" => (Seq(min(mcol).alias("__a")), min(col("__a")).over(cumWindow))
          case "max" => (Seq(max(mcol).alias("__a")), max(col("__a")).over(cumWindow))
          case "avg" => (Seq(sum(mcol).alias("__a"), count(mcol).alias("__c")),
            sum(col("__a")).over(cumWindow) / sum(col("__c")).over(cumWindow))
          case other => throw new GraftException(s"cumulative metric ${cm.name}: unknown operator $other")
        }
        // One shuffle: aggregate per period first; the running total then runs over
        // the SPINE-sized frame (|periods| rows, single-partition window by design —
        // a 10-year monthly spine is 120 rows regardless of fact-table size).
        // quarter truncates fine but is not a Spark interval unit — stride 3 months
        val stride = if (unit == "quarter") "3 month" else s"1 $unit"
        val perPeriod = base
          .filter(ref >= lit(w.start).cast("timestamp") && ref <= lit(w.end).cast("timestamp"))
          .groupBy(date_trunc(unit, ref).alias(w.name))
          .agg(perAggs.head, perAggs.tail: _*)
        val spine = spark.sql(
          s"SELECT explode(sequence(date_trunc('$unit', timestamp '${w.start}'), " +
            s"date_trunc('$unit', timestamp '${w.end}'), interval $stride)) AS `${w.name}`")
        spine.join(perPeriod, Seq(w.name), "left")
          .withColumn(cm.measure.name, cumCol)
          .drop("__a", "__c")
    }
  }

  /** Refresh the cached FILE LISTINGS of every resolved source scan. Model and
    * view plans derive from the source frames, and plan transforms copy nodes
    * but share the `FileIndex` INSTANCE — so refreshing the source plans'
    * indexes reaches every deployed view (and every plan-cache entry holding
    * them). The case that needs it: a source directory REWRITTEN under a live
    * deployment (`LandRaw` merge/replace re-lands) — Spark's listing cache
    * would otherwise chase deleted part files (FAILED_READ_FILE.FILE_NOT_EXIST)
    * or serve the stale row set. Same mechanism as SQL `REFRESH TABLE`, scoped
    * to this deployment's sources.
    */
  def refreshSources(): Unit =
    srcCache.values.foreach(_.queryExecution.analyzed.refresh())

  /** A planner in session `own` over the same manifest/resolver with different
    * session properties: resolved base scans are SHARED (sources are
    * property-independent), so a deploy of the returned planner only re-resolves
    * what properties can change — RLAC filters, CLAC projections, and the model join
    * plans that embed them. This is the engine side of per-query session properties
    * (the reference's per-request variable headers, ibis-server/app/mdl/rewriter.py:
    * 177-189).
    */
  def withProperties(newProps: Map[String, String], own: SparkSession): SemanticPlanner = {
    // a DataFrame registers temp views in ITS OWN session: rebind each shared scan
    // to `own`, or the new deploy would overwrite this planner's views
    val p = new SemanticPlanner(own, manifest, resolver, newProps)
    p.baseCache ++= baseCache.map { case (k, df) => k -> Bridge.rebind(df, own) }
    // the shared base scans carry the raw-source map with them — without this a
    // cached baseDF hit would leave srcCache empty and physical-name references
    // unresolvable in the property session
    p.srcCache ++= srcCache.map { case (k, df) => k -> Bridge.rebind(df, own) }
    p
  }

  /** Strip the semantic `catalog.schema.` qualifier (reference strips it from unparsed
    * SQL at mdl/mod.rs:530-537; here models live in the session temp-view namespace).
    * Protected spans are left untouched: single-quoted string literals (always data),
    * and double-quoted or backtick-quoted identifiers CONTAINING a dot —
    * `"catalog.schema.weird"` is one identifier, not a qualifier. Dotless quoted
    * spans stay in the scanned stream because a legit qualifier is written as two of
    * them (`"catalog"."schema".`) and must still strip.
    */
  def stripNamespace(sql: String): String = {
    val c = java.util.regex.Pattern.quote(manifest.catalog)
    val s = java.util.regex.Pattern.quote(manifest.schema)
    val qual = ("(?i)\"?" + c + "\"?\\.\"?" + s + "\"?\\.").r
    val spans = "'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`".r
    val sb = new StringBuilder
    var last = 0
    for (m <- spans.findAllMatchIn(sql)) {
      val protect = m.matched.head == '\'' || m.matched.contains(".")
      if (protect) {
        sb ++= qual.replaceAllIn(sql.substring(last, m.start), "")
        sb ++= m.matched
        last = m.end
      }
    }
    sb ++= qual.replaceAllIn(sql.substring(last), "")
    sb.result()
  }

  /** Execute SQL with the namespace stripped and v2 enum dereferences rewritten:
    * a two-part reference whose head names a declared enum becomes the value's
    * string literal (EnumRewrite.java:73-91 — the enum shadows a same-named table
    * alias there too; a missing value is an error, not a fall-through).
    */
  def runSql(sql: String): DataFrame = {
    val stripped = stripNamespace(sql)
    // Type-alias rewriting only engages when the ORIGINAL text fails to parse:
    // `CAST(x AS int64)` is a parse error that the rewrite repairs, while a
    // legitimate column alias like `SELECT ts AS datetime` parses fine and must
    // keep its name (rewriting unconditionally would silently rename it).
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(stripped)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          val repaired = rewriteTypeAliases(stripped)
          if (repaired == stripped) throw e
          spark.sessionState.sqlParser.parsePlan(repaired)
      }
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark, rewriteEnums(rewriteRelations(parsed)))
  }

  /** The reference's type system accepts Arrow-style type aliases in casts
    * (`CAST(x AS int64)`, `CAST(t AS datetime)`) that Spark's parser rejects
    * (wren-core/core/src/logical_plan/utils.rs:109-203 `map_data_type` — the same
    * table [[graft.mdl.TypeMapper]] implements for column declarations). Rewrite
    * `AS <alias>` to the Spark type name before parsing; string literals and
    * quoted identifiers are left untouched.
    */
  private val castAliases: Map[String, String] = Map(
    "int64" -> "BIGINT", "int32" -> "INT", "int16" -> "SMALLINT",
    "uint8" -> "SMALLINT", "uint16" -> "INT", "uint32" -> "BIGINT",
    "uint64" -> "DECIMAL(20,0)", "float64" -> "DOUBLE", "float32" -> "FLOAT",
    "datetime" -> "TIMESTAMP_NTZ")
  private val castAliasRe =
    ("(?i)\\b(AS\\s+)(" + castAliases.keys.mkString("|") + ")\\b").r
  private val quotedSpans = "'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`".r

  private[planner] def rewriteTypeAliases(sql: String): String = {
    if (!castAliases.keys.exists(k => sql.toLowerCase.contains(k))) return sql
    def rw(chunk: String): String = castAliasRe.replaceAllIn(chunk, m =>
      java.util.regex.Matcher.quoteReplacement(
        m.group(1) + castAliases(m.group(2).toLowerCase)))
    val sb = new StringBuilder
    var last = 0
    for (m <- quotedSpans.findAllMatchIn(sql)) {
      sb ++= rw(sql.substring(last, m.start))
      sb ++= m.matched
      last = m.end
    }
    sb ++= rw(sql.substring(last))
    sb.result()
  }

  /** Resolve qualified table references the way the reference's catalog does
    * (LocalRuntime mode, wren-core/core/src/mdl/context.rs — the session exposes
    * models under `<catalog>.<schema>` AND keeps the physical tables reachable
    * by their registered names):
    *   - `catalog.schema.Model` / `schema.Model` → the deployed model/view
    *     temp view (models live in the session temp-view namespace here);
    *   - a model's full physical `tableReference` (e.g.
    *     `datafusion.public.order_items`) → the RAW source scan captured at
    *     deploy, bypassing the semantic layer exactly like querying the
    *     underlying table in the reference.
    */
  private def rewriteRelations(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    if (rawViews.isEmpty && manifest.models.isEmpty) return plan
    lazy val deployedNames: Set[String] =
      (manifest.models.map(_.name) ++ manifest.views.map(_.name) ++
        manifest.metrics.map(_.name) ++ manifest.cumulativeMetrics.map(_.name))
        .map(_.toLowerCase).toSet
    plan.transformDownWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size >= 2 =>
        val parts = r.multipartIdentifier
        val dotted = parts.map(_.toLowerCase).mkString(".")
        rawViews.get(dotted) match {
          case Some(vn) => UnresolvedRelation(Seq(vn))
          case None =>
            val bare = parts.last
            val qualifiedModel = deployedNames.contains(bare.toLowerCase) &&
              (parts.size match {
                case 2 => parts(0).equalsIgnoreCase(manifest.schema)
                case 3 => parts(0).equalsIgnoreCase(manifest.catalog) &&
                  parts(1).equalsIgnoreCase(manifest.schema)
                case _ => false
              })
            if (qualifiedModel) UnresolvedRelation(Seq(bare)) else r
        }
    }
  }

  /** Enum.Value → string literal, across subqueries too (plain
    * transformAllExpressions stops at the subquery boundary). Shared by the plain
    * SQL path and model substitution.
    */
  def rewriteEnums(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    if (manifest.enums.isEmpty) plan
    else plan.transformAllExpressionsWithSubqueries {
      case ua: UnresolvedAttribute if ua.nameParts.size == 2 &&
          manifest.enumDef(ua.nameParts.head).isDefined =>
        val e = manifest.enumDef(ua.nameParts.head).get
        e.valueOf(ua.nameParts(1)).map(v => Literal(v)).getOrElse(
          throw new GraftException(
            s"Enum value '${ua.nameParts(1)}' not found in enum '${e.name}'"))
    }

  // ---------------------------------------------------------------- base scan

  /** The model's declared (name → Spark type) pairs for columns read 1:1 from the
    * source — the schema hint that lets text sources skip inference. Expression
    * columns reference source columns the model doesn't declare, so they're excluded
    * (the source keeps its own type there; CSV defaults those to string).
    */
  private def declaredTypes(model: Model): Seq[(String, org.apache.spark.sql.types.DataType)] =
    model.physicalColumns.filter(_.expression.isEmpty)
      .map(c => c.name -> TypeMapper.toSpark(c.`type`))

  /** Source scan + physical/expression columns, typed per the MDL declaration. */
  def baseDF(model: Model): DataFrame = baseCache.getOrElseUpdate(model.name.toLowerCase, {
    val src: DataFrame = (model.refSql, model.tableReference) match {
      case (Some(sql), _) => spark.sql(stripNamespace(normalizeQuotes(sql)))
      case (None, Some(ref)) =>
        val df = resolver.resolve(spark, ref, declaredTypes(model))
        srcCache.getOrElseUpdate(ref.dotted.toLowerCase, df)
        df
      case (None, None) =>
        model.baseObject match {
          case Some(b) =>
            baseDF(manifest.model(b).getOrElse(
              throw new GraftException(s"model ${model.name}: baseObject $b not found")))
          case None =>
            resolver.resolve(spark, TableReference(table = model.name), declaredTypes(model))
        }
    }
    val cols = model.physicalColumns.map { c =>
      val e: SCol = c.expression.map(x => expr(normalizeQuotes(x))).getOrElse(col(c.name))
      val target = TypeMapper.toSpark(c.`type`)
      // Only cast when the declared type adds information; unknown-type fallback to
      // string must not clobber a well-typed source column.
      val typed =
        if (TypeMapper.toSpark(c.`type`) == org.apache.spark.sql.types.StringType &&
          !Set("varchar", "char", "bpchar", "text", "string", "name", "json", "uuid")
            .contains(c.`type`.toLowerCase)) e
        else e.cast(target)
      typed.alias(c.name)
    }
    if (cols.isEmpty) src else src.select(cols: _*)
  })

  // ---------------------------------------------------------------- model plan

  /** Parse an MDL expression with Spark's SQL parser (double-quoted identifiers are
    * normalized to backticks first — Spark reads double quotes as string literals).
    */
  private def parseExpr(e: String): Expression =
    spark.sessionState.sqlParser.parseExpression(normalizeQuotes(e))

  private val aggFnNames = Set(
    "sum", "count", "avg", "mean", "min", "max", "array_agg", "collect_list",
    "collect_set", "string_agg", "listagg", "bool_and", "bool_or", "every", "some",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance", "median",
    "approx_count_distinct", "count_distinct", "corr", "covar_pop", "covar_samp",
    "first", "first_value", "last", "last_value", "any_value", "percentile",
    "percentile_approx", "mode", "count_if", "max_by", "min_by", "bit_and", "bit_or",
    "bit_xor")

  private val aggFnRe =
    ("""(?is)^\s*(""" + aggFnNames.mkString("|") + """)\s*\(.*""").r

  /** Aggregate detection on the PARSED tree (the reference walks parsed expressions —
    * find_aggregate_exprs, plan.rs:447-449): `1 + sum(x)` is an aggregate calc,
    * `'sum(x)' || y` is not. Window-framed calls don't count — a windowed aggregate
    * doesn't make the calc to-many. Falls back to the prefix regex only if the text
    * doesn't parse (the failure then surfaces with context in resolvePaths).
    */
  private def isAggregateExpr(e: String): Boolean =
    scala.util.Try(parseExpr(e)).toOption match {
      case Some(parsed) =>
        val noWindows = parsed.transform { case _: WindowExpression => Literal(true) }
        noWindows.collect { case f: UnresolvedFunction => f }
          .exists(f => aggFnNames.contains(f.nameParts.last.toLowerCase))
      case None => aggFnRe.matches(e)
    }

  /** The related-side DataFrame for a join step. Governance does not stop at the
    * relationship boundary: the raw base is always filtered by the related model's
    * RLAC rules (the reference plans join sides as ModelPlanNode so row rules apply,
    * model_generation.rs:88-129); the fully-calculated model — itself governed — is
    * used when the path lands on a calculated column (nested calculated fields — the
    * reference's hard case, sqllogictest/src/test_context.rs:175-199 — handled here by
    * recursion with explicit cycle detection).
    */
  private def joinSideDF(st: JoinStep): DataFrame =
    if (st.needsCalc) modelDF(st.model)
    else st.model.rowLevelAccessControls.map(rlacFilter)
      .foldLeft(baseDF(st.model))((df, f) => df.filter(f))

  /** The governed, fully-calculated DataFrame for a model. Memoized; recursion via
    * nested calculated fields is cycle-checked.
    */
  def modelDF(model: Model): DataFrame = {
    val key = model.name.toLowerCase
    modelCache.get(key) match {
      case Some(df) => df
      case None =>
        if (!inProgress.add(key))
          throw new GraftException(
            s"cyclic calculated-field dependency: ${(inProgress.toSeq :+ key).mkString(" -> ")}")
        try {
          val df = buildModelDF(model)
          modelCache(key) = df
          df
        } finally inProgress.remove(key)
    }
  }

  private def buildModelDF(model: Model): DataFrame = {
    val baseAlias = model.name
    var df = baseDF(model).alias(baseAlias)

    val (aggCalcs, scalarCalcs) = model.calculatedColumns.partition(c =>
      isAggregateExpr(c.expression.getOrElse("")))

    // --- to-one calculated fields: left-join relation chain ---
    val joins = mutable.LinkedHashMap[String, JoinStep]()
    val scalarRewritten: List[(Column, SCol)] = scalarCalcs.map { c =>
      val ex = c.expression.getOrElse(
        throw new GraftException(s"calculated column ${model.name}.${c.name} requires an expression"))
      val (rewritten, steps) = resolvePaths(model, baseAlias, ex)
      steps.foreach { st =>
        if (!st.toOne)
          throw new GraftException(
            s"calculated column ${model.name}.${c.name}: non-aggregate expression traverses " +
              s"a to-many relationship ${st.rel.name}; wrap it in an aggregate")
        joins.get(st.alias) match {
          case Some(prev) if !prev.needsCalc && st.needsCalc =>
            joins(st.alias) = prev.copy(needsCalc = true)
          case Some(_) => ()
          case None => joins(st.alias) = st
        }
      }
      c -> rewritten
    }
    joins.values.foreach { st =>
      // inner Marker alias tags the side as engine-generated + key-unique, so
      // PartialModelPruner may drop it when a query references none of its columns
      df = df.join(
        joinSideDF(st).alias(PartialModelPruner.Marker).alias(st.alias),
        st.condition, "left_outer")
    }

    // --- to-many calculated fields: pre-aggregate + join back on pk ---
    aggCalcs.foreach { c =>
      val pk = model.primaryKey.getOrElse(throw new GraftException(
        s"model ${model.name}: to-many calculated column ${c.name} requires a primaryKey " +
          "(reference plan.rs:241-249)"))
      val ex = c.expression.get
      val (rewritten, steps) = resolvePaths(model, baseAlias, ex)
      if (steps.isEmpty)
        throw new GraftException(
          s"calculated column ${model.name}.${c.name} aggregates but references no relationship")
      val pkCol = s"__graft_pk_${c.name}"
      val hop = singleHopEquality(model, steps)
      val aggDF: DataFrame = hop match {
        case Some((_, relSide)) =>
          // Fast path: aggregate the related table grouped by its FK — one shuffle of
          // the related side, no join of the base into the aggregation.
          val st = steps.head
          joinSideDF(st).alias(st.alias)
            .groupBy(relSide.alias(pkCol))
            .agg(rewritten.cast(TypeMapper.toSpark(c.`type`)).alias(c.name))
        case None =>
          var adf = baseDF(model).alias(baseAlias)
          steps.foreach { st =>
            adf = adf.join(joinSideDF(st).alias(st.alias), st.condition, "left_outer")
          }
          adf.groupBy(col(s"$baseAlias.$pk").alias(pkCol))
            .agg(rewritten.cast(TypeMapper.toSpark(c.`type`)).alias(c.name))
      }
      val joinKey: SCol = hop match {
        case Some((baseSide, _)) => baseSide === col(pkCol)
        case None => col(s"$baseAlias.$pk") === col(pkCol)
      }
      // groupBy(pk) makes the aggregated side unique on the join key → prunable
      df = df.join(aggDF.alias(PartialModelPruner.Marker), joinKey, "left_outer").drop(pkCol)
    }

    // --- final projection: CLAC-passing columns, hidden ones kept for now ---
    val scalarByName = scalarRewritten.map { case (c, ex) => c.name.toLowerCase -> (c, ex) }.toMap
    val aggNames = aggCalcs.map(_.name.toLowerCase).toSet
    val projectable = model.columns.filter(c =>
      c.relationship.isEmpty && clacAllows(model, c))
    val sel: List[SCol] = projectable.map { c =>
      if (aggNames.contains(c.name.toLowerCase)) col(c.name)
      else scalarByName.get(c.name.toLowerCase) match {
        case Some((cc, ex)) => ex.cast(TypeMapper.toSpark(cc.`type`)).alias(cc.name)
        case None => col(s"$baseAlias.${c.name}")
      }
    }
    var out = df.select(sel: _*)

    // --- row-level access control (model_generation.rs:88-129) ---
    // RLAC runs BEFORE hidden columns are projected away: the reference allows
    // a rule condition over a hidden column while the column itself stays
    // unselectable (mod.rs test_ralc_condition_contain_hidden).
    val filters = model.rowLevelAccessControls.map(rlacFilter)
    filters.foreach(f => out = out.filter(f))

    // --- hide isHidden columns from the model's output last ---
    val hiddenNames = projectable.filter(_.isHidden).map(_.name)
    if (hiddenNames.nonEmpty) out = out.drop(hiddenNames: _*)
    out
  }

  // ---------------------------------------------------------------- relation chain

  /** One hop of a relation chain: join `model` (aliased `alias`) onto the plan.
    * `needsCalc` marks a hop whose referenced column is itself calculated on the
    * target model, requiring the governed (calculated) side rather than the raw base.
    */
  final case class JoinStep(
      alias: String, model: Model, rel: Relationship, condition: SCol, toOne: Boolean,
      needsCalc: Boolean = false)

  /** Detect the single-hop pure-equality shape `base.x = related.y` on the PARSED
    * condition; returns the (baseSide, relatedSide) column references if so.
    */
  private def singleHopEquality(model: Model, steps: List[JoinStep]): Option[(SCol, SCol)] = {
    if (steps.size != 1) return None
    val st = steps.head
    def side(a: UnresolvedAttribute): Option[(SCol, Boolean)] =
      if (a.nameParts.length != 2) None
      else if (a.nameParts.head.equalsIgnoreCase(model.name))
        Some((Bridge.column(UnresolvedAttribute(Seq(model.name, a.nameParts(1)))), true))
      else if (a.nameParts.head.equalsIgnoreCase(st.model.name))
        Some((Bridge.column(UnresolvedAttribute(Seq(st.alias, a.nameParts(1)))), false))
      else None
    scala.util.Try(parseExpr(st.rel.condition)).toOption.flatMap {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        for {
          (lc, lIsBase) <- side(l)
          (rc, rIsBase) <- side(r)
          if lIsBase != rIsBase
        } yield if (lIsBase) (lc, rc) else (rc, lc)
      case _ => None
    }
  }

  /** Rewrite every relationship-column path in `expression` into a join-chain column
    * reference, accumulating the required `JoinStep`s — the lineage walk of
    * wren-core/core/src/mdl/lineage.rs:19-120, done on the PARSED expression tree
    * (the reference also walks parsed plans), so dotted text inside string literals
    * is never touched and every identifier is classified by the parser, not a regex.
    *
    * Access control is enforced mid-walk: a path may not land on a column the current
    * session's CLAC rules deny (the reference denies the whole query, plan.rs:157-174)
    * — a calculated field must not smuggle out a restricted related column.
    */
  /** Is the hop `from` → `to` a to-one traversal? The declared direction decides
    * first; when it says to-many, the join condition gets the last word: an
    * equality on the TARGET model's primary key means each source row matches at
    * most one target row, whatever the declaration claims. The reference does not
    * enforce direction at all — it classifies a calculation by aggregate-ness
    * alone (plan.rs:447-449), so its own fixtures carry reversed declarations
    * (sqllogictest test_context.rs: `Orders_order_items` is MANY_TO_ONE from
    * [Orders, Order_items], yet `Order_items.Customer_state` traverses it
    * scalar-ly); the pk check accepts exactly the reversed-but-safe cases without
    * giving up the cardinality guard for genuinely amplifying joins.
    */
  private def hopIsToOne(rel: Relationship, from: Model, to: Model): Boolean =
    rel.isToOneFrom(from.name) || to.primaryKey.exists { pk =>
      scala.util.Try(parseExpr(rel.condition)).toOption.exists { cond =>
        // only CONJUNCTION-reachable equalities prove at-most-one: a pk
        // equality inside an OR branch doesn't bound the match count
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        conjuncts(cond).exists {
          case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
            Seq(l, r).exists(a => a.nameParts.length == 2 &&
              a.nameParts.head.equalsIgnoreCase(to.name) &&
              a.nameParts.last.equalsIgnoreCase(pk))
          case _ => false
        }
      }
    }

  private def resolvePaths(
      model: Model, baseAlias: String, expression: String): (SCol, List[JoinStep]) = {
    val parsed =
      try parseExpr(expression)
      catch {
        case e: Exception => throw new GraftException(
          s"model ${model.name}: cannot parse expression `$expression`: ${e.getMessage}")
      }
    val steps = mutable.LinkedHashMap[String, JoinStep]()
    val rewritten = parsed.transformUp {
      // Only paths whose head is a relationship column of the host model are semantic.
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          model.column(a.nameParts.head).exists(_.relationship.nonEmpty) =>
        val parts = a.nameParts.toList
        var curModel = model
        var curAlias = baseAlias
        var relCol = model.column(parts.head)
        var idx = 0
        while (idx < parts.length - 1) {
          val cc = relCol.getOrElse(throw new GraftException(
            s"${model.name}: cannot resolve path ${parts.mkString(".")} at ${parts(idx)}"))
          val rel = manifest.relationship(cc.relationship.get).getOrElse(
            throw new GraftException(s"relationship ${cc.relationship.get} not found"))
          if (!rel.involves(curModel.name))
            throw new GraftException(
              s"relationship ${rel.name} does not involve model ${curModel.name}")
          val nextName = rel.other(curModel.name)
          val nextModel = manifest.model(nextName).getOrElse(
            throw new GraftException(s"model $nextName not found"))
          val nextAlias = s"__rel_${parts.take(idx + 1).mkString("_")}".replaceAll("\\W", "_")
          val cond = rewriteJoinCondition(rel, curModel.name, curAlias, nextModel.name, nextAlias)
          steps.getOrElseUpdate(nextAlias,
            JoinStep(nextAlias, nextModel, rel, cond, hopIsToOne(rel, curModel, nextModel)))
          curModel = nextModel
          curAlias = nextAlias
          idx += 1
          relCol = if (idx < parts.length - 1) curModel.column(parts(idx)) else None
        }
        curModel.column(parts.last).foreach { lc =>
          if (!clacAllows(curModel, lc))
            throw new GraftException(
              s"Access denied: column ${curModel.name}.${parts.last} is restricted by " +
                "column-level access control for this session")
        }
        // nested calculated field: the path lands on a calc column of the target model
        if (curModel.column(parts.last).exists(_.isCalculated))
          steps(curAlias) = steps(curAlias).copy(needsCalc = true)
        UnresolvedAttribute(Seq(curAlias, parts.last))
    }
    (Bridge.column(rewritten), steps.values.toList)
  }

  /** Relationship conditions reference *model names* (e.g. `"Orders"."Customer_id" =
    * "Customers"."Id"`, relation_chain.rs:281-289); qualify them with plan aliases.
    */
  private def rewriteJoinCondition(
      rel: Relationship,
      fromModel: String, fromAlias: String,
      toModel: String, toAlias: String): SCol = {
    val parsed =
      try parseExpr(rel.condition)
      catch {
        case e: Exception => throw new GraftException(
          s"relationship ${rel.name}: cannot parse condition `${rel.condition}`: ${e.getMessage}")
      }
    Bridge.column(parsed.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          a.nameParts.head.equalsIgnoreCase(fromModel) =>
        UnresolvedAttribute(fromAlias +: a.nameParts.tail)
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          a.nameParts.head.equalsIgnoreCase(toModel) =>
        UnresolvedAttribute(toAlias +: a.nameParts.tail)
    })
  }

  /** MDL expressions quote identifiers with double quotes; Spark wants backticks.
    * Every double-quoted segment outside a single-quoted string literal becomes a
    * backticked identifier (so a bare `"c_acctbal" * 2` is an identifier reference,
    * never a string literal).
    */
  private def normalizeQuotes(e: String): String = SemanticPlanner.normalizeQuotes(e)

  // ---------------------------------------------------------------- access control

  private def propValue(name: String): Option[String] = props.get(name.toLowerCase)

  /** Validate declared session properties; missing+required throws
    * (access_control.rs:33-118).
    */
  private def checkRequired(rps: List[SessionProperty], ruleName: String): Unit =
    rps.foreach { p =>
      if (p.required && propValue(p.name).isEmpty && p.defaultExpr.isEmpty)
        throw new GraftException(
          s"access-control rule $ruleName: required session property ${p.name} not provided")
    }

  /** `@property` placeholders → typed literals (access_control.rs:33-83). */
  private def rlacFilter(rule: RowLevelAccessControl): SCol = {
    checkRequired(rule.requiredProperties, rule.name)
    val declared = rule.requiredProperties.map(p => p.normalizedName -> p).toMap
    val substituted = "@([A-Za-z_][A-Za-z_0-9]*)".r.replaceAllIn(rule.condition, m => {
      val key = m.group(1).toLowerCase
      val raw = propValue(key).orElse(declared.get(key).flatMap(_.defaultExpr))
      java.util.regex.Matcher.quoteReplacement(raw.map(toLiteral).getOrElse("NULL"))
    })
    expr(normalizeQuotes(substituted))
  }

  private val numericRe = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r
  private def toLiteral(v: String): String =
    if (numericRe.matches(v) || v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false")) v
    else "'" + v.replace("'", "''") + "'"

  /** True when `colName` exists on `model` carrying a CLAC rule that DENIES under the
    * current session properties — the precise condition for converting an
    * unresolved-column analysis error into an access-denied message (a typo on a
    * rule-free column, or a rule that passes for this session, is a plain error).
    */
  def clacDenied(model: Model, colName: String): Boolean =
    model.column(colName).exists(c =>
      c.relationship.isEmpty && c.columnLevelAccessControl.nonEmpty && !clacAllows(model, c))

  /** CLAC: failing columns are omitted from the model schema (context.rs:343-365). */
  private def clacAllows(model: Model, c: Column): Boolean =
    c.columnLevelAccessControl.forall { rule =>
      val propName = rule.requiredProperties.headOption.map(_.name)
      val v = propName.flatMap(propValue)
        .orElse(rule.requiredProperties.headOption.flatMap(_.defaultExpr))
      v match {
        case None => false
        case Some(value) => compare(value, rule.operator, rule.threshold)
      }
    }

  private def compare(value: String, op: String, threshold: String): Boolean = {
    val cmp: Int =
      (scala.util.Try(BigDecimal(value)), scala.util.Try(BigDecimal(threshold))) match {
        case (scala.util.Success(a), scala.util.Success(b)) => a.compare(b)
        case _ => value.compareToIgnoreCase(threshold)
      }
    op match {
      case ClacOperator.Equals => cmp == 0
      case ClacOperator.NotEquals => cmp != 0
      case ClacOperator.GreaterThan => cmp > 0
      case ClacOperator.LessThan => cmp < 0
      case ClacOperator.GreaterThanOrEquals => cmp >= 0
      case ClacOperator.LessThanOrEquals => cmp <= 0
      case other => throw new GraftException(s"unknown CLAC operator $other")
    }
  }
}

object SemanticPlanner {
  /** MDL-dialect identifier quoting → Spark: double-quoted identifiers become
    * backticked (the reference parses ANSI SQL where `"x"` is an identifier;
    * Spark's default parser reads it as a string literal). Single-quoted string
    * literals are left untouched.
    */
  def normalizeQuotes(e: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < e.length) {
      val ch = e.charAt(i)
      if (ch == '\'') { inStr = !inStr; sb += ch }
      else if (ch == '"' && !inStr) {
        val end = e.indexOf('"', i + 1)
        if (end < 0) { sb += ch }
        else {
          sb += '`'; sb ++= e.substring(i + 1, end); sb += '`'
          i = end
        }
      } else sb += ch
      i += 1
    }
    sb.result()
  }
}
