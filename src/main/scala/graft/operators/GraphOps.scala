package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for corpus curation.
  *
  * Web-scale training corpora weight documents by the standing of their source
  * in the hyperlink graph (CommonCrawl publishes harmonic centrality / PageRank
  * ranks for exactly this; CCNet and RefinedWeb filter on them). The reference
  * engine has no graph surface — these are repo extras in the same family as
  * the dedup/curation operators, built for the 100 TB shape: per-iteration work
  * is one edge-side join + one map-side-combined aggregate, state per node is a
  * single row of longs, and no step ever materializes a neighbor list.
  *
  * All rank arithmetic is SCALED 64-BIT INTEGER (floor division), not floating
  * point: sums of longs are order-independent, so the result is bit-identical
  * across engines, partitionings, and retry schedules — the same determinism
  * contract the BM25/DSIR scorers follow (COVERAGE.md "cross-engine float
  * determinism"). A DuckDB oracle replays the identical recurrence.
  *
  * ONE recurrence, two operators: [[pageRank]] IS [[trustRank]] with every
  * node flagged as a teleport receiver (s(v) = 1 everywhere ⇒ the seed terms
  * reduce to the classic form), so both the Spark loop ([[rankLoop]]) and the
  * DuckDB generator ([[duckDbTrustRank]]) exist exactly once — a fix to the
  * dangling, checkpoint, or arithmetic handling cannot drift between them.
  *
  *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
  *   share      = (Σ_{outdeg(u)=0} rank(u)) div nReceivers       // dangling
  *   rank'(v)   = s(v)·base + ((contrib(v) + s(v)·share)·d) div 100
  *   with base = scale·(100−d) div 100, s(v) ∈ {0,1}, rank₀(v) = s(v)·scale.
  */
object GraphOps {

  /** The shared power-iteration loop over a persisted edge list and a static
    * node table (`id`, `s` ∈ {0,1} — teleport receivers, `outdeg` — out-degree
    * with 0 for dangling nodes). `nReceivers` must be `count(s = 1)`. See the
    * object doc for the recurrence.
    *
    * Scale design: `e` is persisted once and re-scanned per iteration (on a
    * cluster, prefer a table bucketed by `src` so the per-iteration
    * rank⋈edges join shuffles only the rank rows — N longs, never the edge
    * list). The rank rows CARRY the static per-node columns (`s`, `outdeg`),
    * so each iteration joins only the edge list: the former per-iteration
    * `deg` join folds into a `rank div outdeg` computed on the N rank rows
    * before the edge join (identical floor division, evaluated once per src
    * instead of once per edge), and the former dangling anti-join folds into
    * a `filter(outdeg = 0)` over columns already in hand — two exchanges per
    * round removed outright (guide §2.4). The contrib aggregate is a
    * partial/final hash aggregate (map-side combine), the dangling mass is a
    * single-row aggregate BROADCAST-joined into the update (no per-iteration
    * driver collect — one job per round), and each iteration is
    * checkpoint-snapped so the plan doesn't nest; `reliable = true` swaps
    * localCheckpoint (executor-local, lost on executor death) for
    * checkpoint-dir-backed `checkpoint()` — the right setting when a 100 TB
    * run's iteration chain is hours long (same switch as
    * [[Curation.connectedComponents]]).
    */
  private def rankLoop(
      e: DataFrame,
      nodes: DataFrame,
      nReceivers: Long,
      iterations: Int,
      scale: Long,
      dampingPct: Int,
      reliable: Boolean): DataFrame = {
    val base = scale * (100 - dampingPct) / 100
    // share = danglingMass div nReceivers, folded into the update as a
    // broadcast single-row join — NO per-iteration driver collect: each round
    // is exactly one job (the checkpoint materialization), and on a cluster
    // the driver never synchronizes on a scalar between rounds
    val shareSql =
      if (nReceivers == 0) "0L" else s"(dm div ${nReceivers}L)"
    val explainIter = sys.env.contains("SPARK_GRAFT_RANK_EXPLAIN")
    var rank = Snapshot.snap(nodes.select(col("id"), col("s"), col("outdeg"),
      (col("s") * scale).cast("long").alias("rank")), reliable)
    for (it <- 1 to iterations) {
      // src rows with outdeg = 0 have no out-edges to match — the filter
      // drops them before the join without changing the result
      val contrib = e
        .join(rank.filter(col("outdeg") > 0)
          .select(col("id").alias("src"), expr("rank div outdeg").alias("w")),
          Seq("src"))
        .select(col("dst").alias("id"), col("w"))
        .groupBy("id")
        .agg(sum("w").alias("contrib"))
      // dangling nodes (no out-edges) leak their mass; redistribute it to the
      // receivers (1-row aggregate, broadcast into the update)
      val danglingMass = rank.filter(col("outdeg") === 0)
        .agg(coalesce(sum("rank"), lit(0L)).alias("dm"))
        .withColumn("jk", lit(1))
      val updated = rank.select(col("id"), col("s"), col("outdeg"))
        .withColumn("jk", lit(1))
        .join(contrib, Seq("id"), "left")
        .join(broadcast(danglingMass), Seq("jk"))
        .select(col("id"), col("s"), col("outdeg"),
          expr(s"${base}L * s + ((coalesce(contrib, 0L) + s * $shareSql) * $dampingPct) div 100")
            .alias("rank"))
      if (explainIter && it == 1)
        // plan-evidence hook (plans/r15): the per-iteration update plan is
        // hidden behind the checkpoint snaps in the query-level explain.
        // Routed through the logging framework, not stdout (r15 advice):
        // library code printing to stdout would pollute any caller's driver
        // output if the env var leaked into a deployment. Capture with
        // log4j2 level=warn on this logger (the hook is opt-in twice over).
        org.slf4j.LoggerFactory.getLogger(GraphOps.getClass).warn(
          "rankLoop iteration-1 update plan (SPARK_GRAFT_RANK_EXPLAIN):\n" +
            updated.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
      rank = Snapshot.snap(updated, reliable)
    }
    rank.select(col("id"), col("rank"))
  }

  /** Persist `edges` as a parquet table BUCKETED (and sorted) BY `src`, and
    * return the bucketed scan — the cluster deployment the [[rankLoop]]
    * scaladoc prescribes: with the edge side pre-hashed into `buckets` files
    * per the join key, the per-iteration rank⋈edges join plans NO exchange on
    * the edge side (Spark's bucketed-join rule recognizes the scan's
    * HashPartitioning) — only the rank rows (one long per node) move per
    * round, never the edge list. Choose `buckets` ≈ the shuffle partition
    * count so the rank side hashes straight into alignment. Pass the result
    * to [[pageRank]]/[[trustRank]] in place of the raw edge frame; the 10×
    * measured drop is a GraphErScaleSmoke row. `path` puts the table at an
    * external location (omit for the session warehouse).
    */
  def bucketEdges(
      edges: DataFrame, buckets: Int,
      table: String = "graft_edges_bucketed",
      path: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    require(buckets > 0, "buckets must be > 0")
    val w0 = edges.select(col("src"), col("dst"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "src").sortBy("src")
    // overwrite of an existing EXTERNAL table keeps the old location: drop
    // first so a path change cannot silently write to the stale directory
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    path.fold(w0)(p => w0.option("path", p)).saveAsTable(table)
    spark.table(table)
  }

  private def persisted(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def checkParams(
      edges: DataFrame, iterations: Int, dampingPct: Int,
      reliable: Boolean, op: String): Unit = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct must be in [0,100]")
    Snapshot.requireCheckpointDir(edges, reliable, op)
  }

  /** Worst case: the whole mass (nReceivers·scale) concentrates in one node's
    * contrib sum, which the update multiplies by dampingPct (< 100). */
  private def checkOverflow(scale: Long, nReceivers: Long, unit: String): Unit =
    require(nReceivers == 0 ||
        scale <= Long.MaxValue / math.max(1L, nReceivers) / 100,
      s"scale $scale overflows 64-bit rank arithmetic at $nReceivers $unit " +
        s"(need scale <= ${Long.MaxValue / math.max(1L, nReceivers) / 100})")

  /** PageRank over a directed edge list.
    *
    * @param edges     DataFrame with `src` and `dst` columns (any orderable,
    *                  hashable type; self-loops allowed; duplicate edges count
    *                  as parallel edges).
    * @param iterations fixed iteration count (power iteration; 100 TB graphs
    *                  converge to stable top-rank order in 5–20 rounds).
    * @param scale     initial per-node rank in scaled-integer units. Choose so
    *                  `nNodes * scale * dampingPct` stays well under 2^63 (the
    *                  overflow guard enforces it): 1e9 nodes × 1e6 scale ×
    *                  100 = 1e17 < 9.2e18.
    * @param dampingPct damping factor in percent (85 = the canonical 0.85).
    *
    * Returns one row per node: (`id`, `rank`) with `rank` in scaled units
    * (initial mass = `scale`; ranks of all nodes sum to ≈ nNodes·scale, minus
    * deterministic floor losses).
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 4,
      scale: Long = 1000000000L,
      dampingPct: Int = 85,
      reliable: Boolean = false): DataFrame = {
    checkParams(edges, iterations, dampingPct, reliable, "pageRank")
    val e = persisted(edges.select(col("src"), col("dst")))
    // every node is a teleport receiver: s = 1 across the board, no seed join;
    // the static out-degree rides the node table (and then the rank rows) so
    // the loop never joins `deg` again
    val deg = e.groupBy(col("src").alias("id")).agg(count(lit(1)).alias("outdeg"))
    val nodes = persisted(
      e.select(col("src").alias("id")).union(e.select(col("dst").alias("id")))
        .distinct()
        .join(deg, Seq("id"), "left")
        .select(col("id"), lit(1).alias("s"),
          coalesce(col("outdeg"), lit(0L)).alias("outdeg")))
    val nNodes = nodes.count()
    checkOverflow(scale, nNodes, "nodes")
    val rank = rankLoop(e, nodes, nNodes, iterations, scale,
      dampingPct, reliable)
    e.unpersist(); nodes.unpersist()
    rank
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank with
    * the teleport vector concentrated on a vetted SEED set — trust flows out
    * of known-good sources, so unreachable link-spam neighborhoods score
    * EXACTLY 0 (integer arithmetic, no epsilon). The standing corpus-curation
    * use: rank crawl sources by propagated trust from a hand-audited
    * whitelist, then weight or gate documents by source trust.
    *
    * rank₀ = `scale` for seeds, 0 elsewhere (total mass = nSeeds·scale); the
    * (1−d) base term and the dangling mass both teleport to seeds only.
    *
    * @param seeds one column of node ids; ids absent from the graph are
    *              ignored (intersected with the node set — the oracle must do
    *              the same).
    */
  def trustRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 4,
      scale: Long = 1000000000L,
      dampingPct: Int = 85,
      reliable: Boolean = false): DataFrame = {
    checkParams(edges, iterations, dampingPct, reliable, "trustRank")
    val e = persisted(edges.select(col("src"), col("dst")))
    val nodeIds = e.select(col("src").alias("id"))
      .union(e.select(col("dst").alias("id")))
      .distinct()
    // node set with a 0/1 seed flag and the static out-degree; both ride
    // every iteration on the rank rows (no per-iteration deg/seed joins)
    val seedIds = seeds.select(col(seeds.columns.head).alias("id")).distinct()
    val deg = e.groupBy(col("src").alias("id")).agg(count(lit(1)).alias("outdeg"))
    val nodes = persisted(nodeIds
      .join(seedIds.withColumn("sflag", lit(1)), Seq("id"), "left")
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("sflag"), lit(0)).alias("s"),
        coalesce(col("outdeg"), lit(0L)).alias("outdeg")))
    val nSeeds = nodes.filter(col("s") === 1).count()
    require(nSeeds > 0, "trustRank needs at least one seed present in the graph")
    checkOverflow(scale, nSeeds, "seeds")
    val rank = rankLoop(e, nodes, nSeeds, iterations, scale,
      dampingPct, reliable)
    e.unpersist(); nodes.unpersist()
    rank
  }

  /** The DuckDB replay of the shared recurrence, as a WITH-clause body that
    * unrolls the fixed iteration count (no recursion — each round is the same
    * three CTEs). `edgeCte` must define a CTE named `e(src, dst)` and
    * `seedCte` must be a CTE BODY (appended into the WITH list) defining
    * `seeds(id)`; the caller appends a final SELECT over `r<iterations>`.
    *
    * Kept beside the operator so the arithmetic can never drift from the Spark
    * recurrence silently: both are generated from the same (scale, dampingPct)
    * parameters, and GraphOpsSpec replays a third, Map-based implementation
    * against the operator.
    */
  def duckDbTrustRank(
      edgeCte: String,
      seedCte: String,
      iterations: Int = 4,
      scale: Long = 1000000000L,
      dampingPct: Int = 85): String = {
    val base = scale * (100 - dampingPct) / 100
    val iters = (1 to iterations).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS id, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS contrib
         |  FROM e JOIN r${k - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
         |  GROUP BY e.dst
         |), dg$k AS (
         |  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) // (SELECT n FROM ns) AS share
         |  FROM r${k - 1} r LEFT JOIN deg d ON r.id = d.id WHERE d.id IS NULL
         |), r$k AS (
         |  SELECT f.id, CAST($base * f.s + ((coalesce(c.contrib, 0) + f.s * (SELECT share FROM dg$k)) * $dampingPct) // 100 AS BIGINT) AS rank
         |  FROM flagged f LEFT JOIN c$k c ON f.id = c.id
         |)""".stripMargin
    }.mkString(", ")
    s"""$edgeCte, $seedCte, nodes AS (
       |  SELECT src AS id FROM e UNION SELECT dst AS id FROM e
       |), deg AS (
       |  SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src
       |), flagged AS (
       |  SELECT n.id, CASE WHEN sd.id IS NULL THEN 0 ELSE 1 END AS s
       |  FROM nodes n LEFT JOIN (SELECT DISTINCT id FROM seeds) sd ON n.id = sd.id
       |), ns AS (
       |  SELECT count(*) AS n FROM flagged WHERE s = 1
       |), r0 AS (
       |  SELECT id, CAST(s * $scale AS BIGINT) AS rank FROM flagged
       |), $iters""".stripMargin
  }

  /** [[duckDbTrustRank]] with every node seeded — the PageRank reduction
    * (s = 1 everywhere collapses the seed terms to the classic recurrence). */
  def duckDbPageRank(
      edgeCte: String,
      iterations: Int = 4,
      scale: Long = 1000000000L,
      dampingPct: Int = 85): String =
    duckDbTrustRank(edgeCte,
      "seeds AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)",
      iterations, scale, dampingPct)
}
