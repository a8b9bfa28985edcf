package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.Bridge

import graft.api.{QueryCache, ResultFormatter}
import graft.functions.GraftFunctions
import graft.mdl.{Manifest, ManifestJson}
import graft.planner.{CatalogResolver, PathResolver, SemanticPlanner, TableResolver}
import graft.semantics.{ManifestExtractor, Substitution, Validator}

/** Public engine API, mirroring the reference's session surface
  * (`wren_core.SessionContext.transform_sql/query/...`, wren-core-py/src/context.rs:222-408,
  * and the v3 HTTP routes, ibis-server/app/routers/v3/connector.py:70-247): deploy a
  * manifest, then run SQL written against model names. Execution is Spark itself (the
  * reference's Mode::LocalRuntime analogue, wren-core/core/src/mdl/context.rs:119-128);
  * `transformSql(sql, dialect)` unparses the optimized plan to another engine's SQL
  * (the reference's Mode::Unparse).
  */
object GraftEngine {

  def deploy(
      spark: SparkSession,
      manifest: Manifest,
      resolver: TableResolver = new CatalogResolver,
      properties: Map[String, String] = Map.empty): GraftSession = {
    manifest.validateLayoutVersion()
    // before the clone, which inherits the functions
    GraftFunctions.registerOnce(spark)
    val planner = new SemanticPlanner(Bridge.cloneSession(spark), manifest, resolver, properties)
    planner.deploy()
    new GraftSession(spark, manifest, planner, properties)
  }

  /** Deploy from a JSON (or base64 JSON) manifest string, pruned to the models a given
    * SQL actually needs when `forSql` is set (manifest extractor, A14).
    */
  def deployJson(
      spark: SparkSession,
      manifestJson: String,
      resolver: TableResolver = new CatalogResolver,
      properties: Map[String, String] = Map.empty,
      forSql: Option[String] = None): GraftSession = {
    val raw =
      if (manifestJson.trim.startsWith("{")) ManifestJson.parse(manifestJson)
      else ManifestJson.parseBase64(manifestJson)
    val manifest = forSql.map(sql => ManifestExtractor.extract(raw, sql)).getOrElse(raw)
    deploy(spark, manifest, resolver, properties)
  }

  /** Deployment cache for `deployOnDir`: keyed structurally on (session, manifest,
    * dir, properties). Building the governed model plans costs hundreds of ms per
    * manifest; a cache hit returns the deployment as is — its views live in its own
    * session, so nothing done on the caller's session in between can shadow them.
    */
  // keyed on the SparkSession reference itself (identity equality) — an int hash
  // could collide across GC'd sessions and hand back a GraftSession bound elsewhere
  private val deployCache =
    new LruCache[(SparkSession, Manifest, String, Map[String, String]), GraftSession](64)

  /** Convenience: models over `<dir>/<table>.parquet` files. */
  def deployOnDir(
      spark: SparkSession,
      manifest: Manifest,
      dir: String,
      properties: Map[String, String] = Map.empty): GraftSession = {
    val key = (spark, manifest, dir, properties)
    val cached = deployCache.get(key)
    if (cached != null) cached
    else {
      val s = deploy(spark, manifest, new PathResolver(dir), properties)
      deployCache.put(key, s) // LRU-bounded
      s
    }
  }
}

/** A query exceeded its time budget and its Spark jobs were cancelled. */
final class QueryTimeoutException(msg: String) extends RuntimeException(msg)

/** Tiny synchronized LRU (access-order LinkedHashMap) for the engine's session
  * caches: at capacity the least-recently-USED entry is evicted — the old bound
  * cleared the whole map, cold-starting every cached tenant at once.
  */
private[graft] final class LruCache[K, V](capacity: Int) {
  private val m = LruCache.accessOrderedMap[K, V](capacity)
  def get(k: K): V = m.synchronized(m.get(k))
  def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
  def size: Int = m.synchronized(m.size)
}

private[graft] object LruCache {
  /** Access-order map that drops its least-recently-used entry past `capacity`,
    * handing the dropped key to `onEvict`.
    */
  def accessOrderedMap[K, V](capacity: Int, onEvict: K => Unit = (_: K) => ())
      : java.util.Map[K, V] =
    new java.util.LinkedHashMap[K, V](capacity * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size > capacity && { onEvict(e.getKey); true }
    }
}

/** An LRU that keeps a value past its first use only when its key comes back —
  * the admission rule of 2Q (Johnson & Shasha, VLDB 1994). A first-sight value
  * waits in a `probation` LRU; a hit there promotes it into the `capacity` LRU.
  * A key that probation evicts leaves its hash among the last `ghosts` evicted,
  * and its next value goes straight into the `capacity` LRU, so a cycle longer
  * than probation hits from its third pass on. A hash collision only admits a
  * value early. One monitor guards all three; nothing is computed under it.
  */
private[graft] final class ProbationCache[K, V](capacity: Int, probation: Int, ghosts: Int) {
  private val kept = LruCache.accessOrderedMap[K, V](capacity)
  private val ghost = LruCache.accessOrderedMap[Int, java.lang.Boolean](ghosts)
  private val trial =
    LruCache.accessOrderedMap[K, V](probation, k => { ghost.put(k.hashCode, true); () })
  private var hitN = 0L
  private var missN = 0L

  /** The value for `k`, or null; a probation hit promotes it. */
  def get(k: K): V = synchronized {
    var v = kept.get(k)
    if (v == null) {
      v = trial.remove(k)
      if (v != null) kept.put(k, v)
    }
    if (v == null) missN += 1 else hitN += 1
    v
  }

  def put(k: K, v: V): Unit = synchronized {
    if (kept.containsKey(k) || ghost.remove(k.hashCode) != null) kept.put(k, v)
    else trial.put(k, v)
    ()
  }

  /** (hits, misses) since construction/reset: a probation hit is a hit. */
  def stats: (Long, Long) = synchronized((hitN, missN))
  def resetStats(): Unit = synchronized { hitN = 0L; missN = 0L }
}

object GraftSession {
  /** Executor for time-bounded query actions (daemon threads — must not block JVM
    * exit; cached — bounded by concurrent timed queries, idle threads reaped).
    */
  private lazy val timeoutPool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-timeout-runner")
    t.setDaemon(true)
    t
  })

  /** Cache hit/miss/override outcome for one cached execution — what the HTTP layer
    * needs to populate `X-Cache-Hit` / `X-Cache-Create-At` / `X-Cache-Override[-At]`
    * (reference: connector.py:126-204's cache_headers).
    */
  final case class CacheOutcome(
      df: DataFrame, hit: Boolean, createdAtMs: Option[Long],
      overridden: Boolean, overriddenAtMs: Option[Long])
}

/** One deployment of a manifest over the caller's session `spark`.
  *
  * Names resolve in the deployment's own session (`planner.spark`, a clone of
  * `spark`): its models, views, metrics, macros and raw-source views live there, so
  * concurrent deployments neither see nor wait for each other, and the caller's
  * own temp views and functions are never touched. That session takes the
  * caller's conf as it was at deploy time, plus the `timezone` property; nothing
  * changes it afterwards, so a plan is a function of (sql, limit) alone. Every
  * DataFrame returned here is rebound to `spark`, so execution conf, result
  * formatting, memory sinks and streaming queries stay the caller's.
  */
final class GraftSession(
    val spark: SparkSession,
    val manifest: Manifest,
    planner: SemanticPlanner,
    properties: Map[String, String] = Map.empty) {

  /** The deployment's own session, where every name resolves. */
  private def own: SparkSession = planner.spark

  /** Sessions derived from this deployment under overridden properties, one per
    * distinct merged property set (bounded; rebuilds are cheap — base scans are
    * shared through the planner).
    */
  private val propSessions = new LruCache[Map[String, String], GraftSession](64)

  /** A session over the SAME deployment with per-query session properties — the
    * reference's `x-wren-variable-*` headers (ibis-server/app/mdl/rewriter.py:177-189).
    * Overrides merge onto deploy-time properties; RLAC filters and CLAC projections
    * re-resolve against the merged set without re-reading sources. The property
    * `timezone` (the `x-wren-timezone` analogue, wren-core/core/src/mdl/context.rs:50-52)
    * is the session timezone this session's queries are analyzed under.
    */
  def withProperties(overrides: Map[String, String]): GraftSession =
    withExactProperties(properties ++ overrides)

  /** Like `withProperties`, but `props` REPLACES the deploy-time properties instead
    * of merging over them — the per-request form (an HTTP request's headers are the
    * complete property set; a session deployed for tenant A must not leak A's
    * properties into a request that supplied none). Shares the planner's base scans
    * like `withProperties`; only RLAC/CLAC re-resolve.
    */
  def withExactProperties(props: Map[String, String]): GraftSession =
    if (props == properties) this
    else {
      val cached = propSessions.get(props)
      if (cached != null) cached
      else {
        val p = planner.withProperties(props, Bridge.cloneSession(spark))
        p.deploy()
        val s = new GraftSession(spark, manifest, p, props)
        propSessions.put(props, s) // LRU-bounded
        s
      }
    }

  /** Per-query properties: resolve against a property-override session and run. */
  def query(sql: String, props: Map[String, String]): DataFrame =
    withProperties(props).query(sql)

  /** Warm-path plan cache. An entry is a function of its key `(sql, limit)` alone:
    * the pruned ANALYZED plan and, when the query is time-stable, that plan
    * optimized over its sources only (on first use). Analysis and optimization are
    * each deterministic for a fixed deployment + property set, so re-running either
    * warm is pure overhead. In-memory substitution is not part of an entry: `query`
    * consults the CacheManager each time a plan is used. Plans with time-dependent
    * foldables (current_timestamp & co., which the optimizer freezes per run),
    * non-deterministic expressions (rand, uuid) or streaming sources optimize per call.
    *
    * An entry retains ~150 KB, so a plan is kept past its first use only when
    * its SQL comes back ([[ProbationCache]]). A first-sight plan waits among the
    * last 8 planned; a hit there promotes it into the 256-entry LRU and counts as
    * a hit, so a validate-then-execute or dry-run-then-query pair hits as before.
    * A plan pushed out of probation leaves its key's hash among the last 1024
    * such; when that SQL comes back it is planned once more and kept, so a
    * dashboard cycling more queries than probation holds hits from its third
    * pass on. The trade: SQL not sent again within 8 plannings no longer stays
    * pinned, and SQL that first comes back later than that is planned twice
    * where a plain LRU planned it once.
    */
  private final class CachedPlan(val analyzed: LogicalPlan, val reusable: Boolean) {
    lazy val optimized: LogicalPlan = Bridge.optimize(spark, analyzed)
  }

  private val planCache =
    new ProbationCache[(String, Option[Int]), CachedPlan](256, probation = 8, ghosts = 1024)

  /** (hits, misses) of the per-session plan cache — PlanProfile evidence. A hit
    * in probation is a hit; every planning is a miss.
    */
  def planCacheStats: (Long, Long) = planCache.stats
  def resetPlanCacheStats(): Unit = planCache.resetStats()

  /** False when any expression (subqueries included) is non-deterministic or bound
    * to query-submission time — the set the optimizer's ComputeCurrentTime /
    * ReplaceExpressions freeze per optimization run.
    */
  private def timeStable(plan: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    var stable = true
    plan.transformAllExpressionsWithSubqueries {
      case e if !e.deterministic || e.isInstanceOf[CurrentTimestamp] ||
          e.isInstanceOf[CurrentDate] || e.isInstanceOf[Now] ||
          e.isInstanceOf[LocalTimestamp] || e.isInstanceOf[CurrentTimeZone] ||
          e.isInstanceOf[CurrentDatabase] || e.isInstanceOf[CurrentCatalog] =>
        stable = false; e
    }
    stable
  }

  /** The plan-cache entry for `sql` clamped to `limit`, planned on a miss.
    *
    * Permission UX (the reference's two-phase PermissionAnalyze, mdl/mod.rs:497-592):
    * a CLAC-dropped column fails Spark analysis as "column not found"; when the
    * column *does* exist in the manifest, that error is converted into an explicit
    * access-denied message instead of a confusing resolution failure.
    */
  private def plan(sql: String, limit: Option[Int]): CachedPlan = {
    val key = (sql, limit)
    val hit = planCache.get(key)
    if (hit != null) return hit
    val df =
      try planner.runSql(sql)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null && e.getCondition.startsWith("UNRESOLVED_COLUMN") =>
          // The unresolved name comes from the error's structured parameters
          // (`objectName`, stable across message-text changes), not a grep of the
          // rendered message; the regex remains only as a fallback for parameter-less
          // builds. Multi-part names keep their last segment.
          val missing = Option(e.getMessageParameters.get("objectName"))
            .map(_.split("\\.").last.replace("`", ""))
            .orElse("`([^`]+)`".r.findFirstMatchIn(e.getMessage).map(_.group(1)))
          // Convert only when the column belongs to a model the query actually names
          // AND its rule denies under THIS session's properties — a typo on an
          // unrestricted column stays a plain resolution error.
          def referenced(name: String): Boolean =
            ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
              .findFirstIn(sql).nonEmpty
          val denied = missing.exists(colName => manifest.models.exists(m =>
            referenced(m.name) && planner.clacDenied(m, colName)))
          if (denied)
            throw new graft.planner.GraftException(
              s"Access denied: column ${missing.get} is restricted by column-level " +
                "access control for this session")
          else throw e
      }
    val limited = limit.map(df.limit).getOrElse(df)
    // A6 partial-model pruning: drop engine-generated to-one join sides the query
    // never references (see PartialModelPruner) — then cache the pruned plan.
    val pruned = Bridge.markAnalyzed(spark,
      graft.planner.PartialModelPruner.prune(limited.queryExecution.analyzed))
    val entry = new CachedPlan(pruned, timeStable(pruned) && !pruned.isStreaming)
    planCache.put(key, entry)
    entry
  }

  /** Execute user SQL written against model/view names. `limit` clamps the result like
    * the reference's pushdown_limit (wren-core-py/src/context.rs:271-320). The cached
    * source-only plan runs unless the CacheManager substitutes into the query; then
    * Spark substitutes and optimizes, as for any query.
    */
  def query(sql: String, limit: Option[Int] = None): DataFrame = {
    val p = plan(sql, limit)
    if (p.reusable && !Bridge.substitutesCachedData(spark, p.analyzed))
      Bridge.ofRowsPreOptimized(spark, p.analyzed, p.optimized)
    else Bridge.ofRows(spark, p.analyzed)
  }

  /** The planned form of the SQL — the `/dry-plan` analogue. The reference returns
    * backend SQL (transform_sql_with_ctx, mdl/mod.rs:477-541); on Spark the natural
    * "planned" artifact is the analyzed/optimized Catalyst plan.
    */
  def transformSql(sql: String): String =
    query(sql).queryExecution.optimizedPlan.toString

  /** `/dry-plan` with a target dialect — the reference's `Mode::Unparse`
    * (wren_dialect.rs:41-110): the optimized semantic-layer expansion rendered
    * as executable SQL text. `"spark"` emits self-contained Spark SQL over
    * `parquet.`path`` scans; `"duckdb"` emits DuckDB SQL over logical table
    * names; null/empty/`"plan"` return the Catalyst plan dump above; any other
    * name is rejected with IllegalArgumentException (HTTP 422), like the
    * reference's unknown-dialect error. The text is unparsed from the source-only
    * plan, so it rebuilds from the sources whatever the CacheManager holds.
    */
  def transformSql(sql: String, dialect: String): String =
    if (dialect == null || dialect.isEmpty || dialect == "plan") transformSql(sql)
    else {
      // an unknown dialect is rejected before any planning
      val target = graft.semantics.SqlUnparser.dialectFor(dialect)
      val p = plan(sql, None)
      val optimized = if (p.reusable) p.optimized else Bridge.optimize(spark, p.analyzed)
      graft.semantics.SqlUnparser.unparse(optimized, p.analyzed.output.map(_.name), target)
    }

  /** Plan without executing; throws on invalid SQL / access violations (the `/dry-run`
    * analogue, connector.py:110-123).
    */
  def dryRun(sql: String): Unit = { plan(sql, None); () }

  /** Strict-mode policy validation before planning (the reference SDK's
    * `validate_sql_policy`, wren/src/wren/policy.py:15-110): every table must be a
    * deployed model/view or an in-scope CTE, table-valued functions are rejected,
    * and `deniedFunctions` names are rejected anywhere in the query. Runs on the
    * parsed plan only — no data access.
    */
  def validatePolicy(
      sql: String, strictMode: Boolean = true,
      deniedFunctions: Set[String] = Set.empty): Unit =
    graft.semantics.Policy.validate(own, sql,
      (manifest.models.map(_.name) ++ manifest.views.map(_.name) ++
        manifest.metrics.map(_.name)).toSet,
      strictMode, deniedFunctions)

  /** [[query]] gated by [[validatePolicy]] — the strict-mode query entry point. */
  def queryStrict(sql: String, deniedFunctions: Set[String] = Set.empty): DataFrame = {
    validatePolicy(sql, strictMode = true, deniedFunctions)
    query(sql)
  }

  def modelDF(name: String): DataFrame = Bridge.rebind(own.table(name), spark)

  /** Refresh the deployment's cached source file listings — call after the
    * underlying table directories were REWRITTEN in place (e.g. a
    * [[graft.mdl.LandRaw]] merge/replace re-land): Spark caches leaf-file
    * listings in each scan's `FileIndex`, so queries through an already
    * deployed session would otherwise chase deleted part files or serve the
    * stale row set. Appends don't strictly need it but see new files sooner.
    */
  def refresh(): Unit = planner.refreshSources()

  /** Model substitution (A13): run SQL written against *physical* table names by
    * rewriting each relation to its governing model (substitute.py:14-124).
    */
  def querySubstituted(sql: String): DataFrame =
    // same enum semantics as query(): Enum.Value rewrites before substitution
    Bridge.rebind(Bridge.ofRows(own, planner.rewriteEnums(
      Substitution.substitute(own, manifest, planner.stripNamespace(sql)))), spark)

  /** Collision-resistant deployment identity: SHA-256 over the full structural
    * rendering of the manifest (expressions, access-control rules, ...), so an
    * edited manifest with unchanged model names never serves stale results and two
    * manifests sharing catalog.schema cannot collide the way a 32-bit hash could.
    */
  private lazy val manifestDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(manifest.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Result cache (A17): execute through a parquet-backed cache keyed by
    * (manifest, sql, session properties).
    */
  def queryCached(sql: String, cache: QueryCache): DataFrame =
    queryCachedMeta(sql, cache).df

  /** Like [[queryCached]], reporting how the cache behaved. `overrideCache` forces
    * re-execution and re-write even on a hit (the reference's `overrideCache` query
    * parameter).
    */
  def queryCachedMeta(sql: String, cache: QueryCache, overrideCache: Boolean = false)
      : GraftSession.CacheOutcome = {
    import GraftSession.CacheOutcome
    val id = s"${manifest.catalog}.${manifest.schema}:$manifestDigest"
    val cached = cache.get(spark, id, sql, properties)
    (cached, overrideCache) match {
      case (Some(df), false) =>
        CacheOutcome(df, hit = true, cache.createdAt(id, sql, properties),
          overridden = false, None)
      case (hitBefore, _) =>
        val prevAt = if (hitBefore.isDefined) cache.createdAt(id, sql, properties) else None
        val df = cache.put(query(sql), id, sql, properties)
        CacheOutcome(df, hit = false, prevAt,
          overridden = hitBefore.isDefined, cache.createdAt(id, sql, properties))
    }
  }

  /** Formatted JSON response (A18) — the v3 query-response shape. */
  def queryJson(sql: String, limit: Int = 1000): String =
    ResultFormatter.toJsonResponse(query(sql), limit)

  /** Run `action` with a wall-clock budget — the reference's
    * `execute_query_with_timeout` (ibis-server/app/model/connector.py:157-160),
    * built on Spark's job-group cancellation. The action runs on a pool thread
    * under a unique job group with `interruptOnCancel`; on timeout every job the
    * group has launched is cancelled (running tasks are interrupted), the thread
    * is interrupted for any non-Spark wait, and a [[QueryTimeoutException]] is
    * thrown. The session stays fully usable — cancellation is scoped to the group.
    */
  def withTimeout[T](timeoutMs: Long)(action: => T): T = {
    val sc = spark.sparkContext
    val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val task = GraftSession.timeoutPool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = {
        sc.setJobGroup(group, s"graft query (budget $timeoutMs ms)", interruptOnCancel = true)
        try action finally sc.clearJobGroup()
      }
    })
    try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(group)
        task.cancel(true)
        throw new QueryTimeoutException(
          s"query exceeded its $timeoutMs ms budget and was cancelled")
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
  }

  /** Time-bounded collect of a governed query. */
  def collectWithTimeout(sql: String, timeoutMs: Long, limit: Option[Int] = None)
      : Array[org.apache.spark.sql.Row] =
    withTimeout(timeoutMs)(query(sql, limit).collect())

  /** Validation probes (A19). */
  def validateColumn(model: String, column: String): Validator.ValidationResult =
    Validator.columnIsValid(own, model, column)
  def validateRelationship(rel: graft.mdl.Relationship): Validator.ValidationResult =
    Validator.relationshipIsValid(own, manifest, rel)
  def validateRelationships(): Seq[Validator.ValidationResult] =
    manifest.relationships.map(validateRelationship)
  def validateRlacSyntax(condition: String): Validator.ValidationResult =
    Validator.rlacConditionSyntaxIsValid(own, condition)
  def validateCubeHierarchies(): Seq[Validator.ValidationResult] =
    manifest.cubes.map(Validator.cubeHierarchyIsValid)

  /** Cube materialization: the reference carries cubes in the manifest but never
    * plans them (SURVEY §1.1 Cube row); here a cube becomes a real `CUBE()` rollup
    * over its base model, registered as a view (and thus queryable/cacheable like
    * any model). Measures aggregate over the full cube lattice; time dimensions are
    * truncated per their declared grain suffix (`col:grain`, default day).
    */
  def materializeCube(name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cube = manifest.cubes.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new graft.planner.GraftException(s"cube $name not found in manifest"))
    if (cube.measures.isEmpty)
      throw new graft.planner.GraftException(s"cube $name declares no measures")
    if (manifest.model(cube.name).nonEmpty)
      throw new graft.planner.GraftException(
        s"cube $name would shadow the model view of the same name")
    val base = own.table(cube.baseObject)
    val timeDims = cube.timeDimensions.map { td =>
      val (c, grain) = td.split(':') match {
        case Array(c, g) => (c, g)
        case _ => (td, "day")
      }
      date_trunc(grain, col(c)).alias(s"${c}_$grain")
    }
    val dims = cube.dimensions.map(d => col(d)) ++ timeDims
    val measures = cube.measures.map(m =>
      expr(m.expression.replace("\"", "`")).alias(m.name))
    val df = base.cube(dims: _*).agg(measures.head, measures.tail: _*)
    df.createOrReplaceTempView(cube.name)
    Bridge.rebind(df, spark)
  }

  /** Function listing for the `/functions` API (A20). */
  def functions: Seq[GraftFunctions.FnSpec] = GraftFunctions.listing

  /** Metadata: deployed models with their visible columns and types (the
    * `/metadata` routes, ibis-server/app/routers/v3/connector.py).
    */
  def metadata: Seq[(String, Seq[(String, String)])] =
    manifest.models.map { m =>
      m.name -> m.columns.filter(c => c.relationship.isEmpty && !c.isHidden)
        .map(c => c.name -> c.`type`)
    }
}
