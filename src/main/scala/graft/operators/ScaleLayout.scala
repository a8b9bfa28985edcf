package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.util.CommitPointer

/** Physical-layout utilities for the 100 TB path: skew-salted joins and bucketed
  * table layouts. AQE's skew-join splitting handles moderate skew at runtime; these
  * are for the cases the optimizer can't fix — a known ultra-hot key set (salting
  * beats AQE when one key alone exceeds executor memory) and repeated co-located
  * joins over the same key (bucketing removes the shuffle from every downstream
  * join, not just one).
  */
object ScaleLayout {

  /** Salted inner equi-join for skewed fact→dim joins: the fact side's key is salted
    * into `saltFactor` virtual keys, the (small, but not broadcastable) dim side is
    * replicated once per salt, so one hot key spreads over `saltFactor` tasks instead
    * of one straggler.
    */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String, saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins only — the dim side is replicated per " +
        s"salt, so right/full outer would emit unmatched dim rows $saltFactor times")
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val replicated = dim
      .withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Write `df` as a bucketed+sorted managed table: downstream equi-joins and
    * aggregations on the bucket keys read co-located data and skip the exchange
    * entirely (verified in ScaleLayoutSpec by asserting a shuffle-free join plan).
    * The 100 TB contract: pick `buckets` so a bucket of the biggest table fits an
    * executor's memory (~total/buckets ≤ a few GB).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Repartition-and-sort layout for downstream merge-friendly consumption without a
    * catalog table (e.g. before writing partitioned parquet): one shuffle now, zero
    * in every reader that needs the same distribution.
    */
  def clustered(df: DataFrame, partitions: Int, keys: Seq[String]): DataFrame =
    df.repartition(partitions, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)

  // ---------------------------------------------------------------- z-order skipping

  /** Morton (Z-order) sort key over already-bucketed integer columns (each in
    * `[0, 2^bits)`): one `LongType` key whose sort order clusters rows close in
    * EVERY dimension — the layout under Delta/Iceberg `OPTIMIZE ZORDER BY`, here a
    * native codegen'd kernel ([[graft.functions.InterleaveBits]]) with generated
    * code size independent of `bits`.
    */
  def zorderKey(df: DataFrame, cols: Seq[Column], bits: Int = 16): Column = {
    val br = org.apache.spark.sql.graft.Bridge
    br.column(graft.functions.InterleaveBits(
      cols.map(c => br.toExpression(df.sparkSession, c)), bits))
  }

  /** Lay `df` out in Z-order: range-partition by the interleaved key into `files`
    * output files and sort within each, so every file covers a compact Z-curve
    * segment = a small box in every dimension. One shuffle to write; every
    * multi-dimensional box predicate afterwards prunes at FILE granularity via
    * [[writeIndexed]]'s min/max index — the scan cost becomes proportional to the
    * box, not the table.
    */
  def zorderLayout(df: DataFrame, cols: Seq[Column], files: Int, bits: Int = 16): DataFrame = {
    require(!df.columns.contains("__z"),
      "zorderLayout input must not carry a '__z' column (it is the layout's sort key)")
    val z = zorderKey(df, cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Index rows key files by BASENAME (tables written here are flat — no
    * partitionBy dirs), so the index survives table relocation/rename: part-file
    * names embed a write-unique UUID.
    */
  private def fileBasename: Column =
    regexp_extract(input_file_name(), "[^/]+$", 0)

  // ------------------------------------------------------- versioned index commit
  //
  // The index is the table's commit manifest: `_graft_index/v<N>/` holds one
  // parquet row per live data file, and [[graft.util.CommitPointer]]'s
  // immutable markers name the committed version. Readers resolve the live
  // FILE LIST through the committed index, so a rewrite (optimize) can lay new
  // files alongside the old generation and commit a new marker — a reader
  // concurrent with maintenance sees the old or the new layout, never a
  // missing table, and a crash before the commit leaves the old version
  // committed (the abandoned generation is unreferenced garbage for
  // [[vacuum]]). Pre-versioning tables (index rows directly under
  // `_graft_index`, no commit) stay readable; their first optimize migrates
  // them.

  private def fsFor(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The table's commit layout: the flat pre-versioning index dir is also the
    * generation root, and `_graft_commit` is the legacy single-file pointer.
    */
  private def index(path: String) = CommitPointer.Layout(
    s"$path/_graft_index", s"$path/_graft_index", s"$path/_graft_commit")

  /** The committed index version, if the table uses the versioned layout. */
  def committedVersion(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Int] =
    CommitPointer.committedVersion(spark, index(path))

  /** The directory holding the COMMITTED index rows: `_graft_index/v<N>` for
    * versioned tables, the flat `_graft_index` for pre-versioning ones, None if
    * the table has no index at all.
    */
  def committedIndexDir(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[String] =
    committedVersion(spark, path) match {
      case Some(v) => Some(index(path).versionDir(v))
      case None =>
        val flat = new org.apache.hadoop.fs.Path(index(path).flat)
        if (fsFor(spark, path).exists(flat)) Some(flat.toString) else None
    }

  /** Delete the table's index and commit state, so the next
    * [[writeIndexed]] starts the version chain fresh.
    */
  private[graft] def dropIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(index(path).root), true)
    fs.delete(new org.apache.hadoop.fs.Path(index(path).pointer), false)
    ()
  }

  /** Write `df` as parquet plus a per-file min/max index of `statCols` (numeric
    * columns), stored as parquet under `_graft_index/v1` with a committed
    * marker beside it (underscore-prefixed, so plain `spark.read.parquet(path)`
    * ignores both). The index is built with ONE distributed pass grouped by
    * `input_file_name` — no driver-side state; its size is one row per data
    * file (a 100 TB table at 1 GB files is a 10^5-row index, itself
    * pruned-readable).
    */
  def writeIndexed(df: DataFrame, path: String, statCols: Seq[String]): Unit =
    writeIndexed(df, path, statCols, Nil)

  /** `indexExtra` appends literal columns to every index row (e.g. a stream's
    * `batch_id` commit tag); pruning ignores them.
    */
  def writeIndexed(df: DataFrame, path: String, statCols: Seq[String],
      indexExtra: Seq[(String, Column)]): Unit = {
    require(statCols.nonEmpty, "writeIndexed needs at least one stat column")
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite).parquet(path)
    // Overwrite left any previous index/commit state behind `path`'s new data;
    // start the version chain fresh.
    dropIndex(spark, path)
    buildIndexRows(spark.read.parquet(path), statCols, indexExtra)
      .write.mode(SaveMode.Overwrite).parquet(index(path).versionDir(1))
    CommitPointer.commit(spark, index(path), 1)
  }

  /** One index row per file of `src`: per-file min/max of every stat column
    * plus any extra literal columns — the single definition both the full
    * build and the incremental append write.
    */
  private def buildIndexRows(
      src: DataFrame, statCols: Seq[String],
      indexExtra: Seq[(String, Column)]): DataFrame = {
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c).cast("double")).alias(s"min_$c"),
        max(col(c).cast("double")).alias(s"max_$c"))
    }
    indexExtra.foldLeft(
      src.groupBy(fileBasename.alias("file")).agg(aggs.head, aggs.tail: _*)) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
  }

  /** List the data-file basenames currently under `path` (a driver listing
    * bounded by the file count — the same bound as the index collect).
    */
  private def listDataFiles(
      spark: org.apache.spark.sql.SparkSession, path: String): Set[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) Set.empty
    else fs.listStatus(hPath).iterator
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .toSet
  }

  /** Append a batch to a [[writeIndexed]] table, extending the COMMITTED index
    * version with stats for the NEW files only: the directory is listed before
    * and after the batch write, and the diff — exactly the batch's own files,
    * regardless of any unreferenced garbage a crashed optimize may have left —
    * feeds the stats pass. An append to a 100 TB table costs the batch, never
    * a table rescan (both listings are file-count-bounded driver ops). Existing
    * files are immutable (parquet append writes new files), so their index rows
    * stay valid; readers resolving mid-append see a prefix of the batch's index
    * rows at worst — each one's data file is already on disk (data lands before
    * index rows), so every observed state is consistent.
    */
  def appendIndexed(df: DataFrame, path: String, statCols: Seq[String]): Unit =
    appendIndexed(df, path, statCols, Nil)

  def appendIndexed(df: DataFrame, path: String, statCols: Seq[String],
      indexExtra: Seq[(String, Column)]): Unit = {
    require(statCols.nonEmpty, "appendIndexed needs at least one stat column")
    val spark = df.sparkSession
    val idxDir = committedIndexDir(spark, path).getOrElse(throw new IllegalStateException(
      s"appendIndexed: $path has no index — create the table with writeIndexed first"))
    val before = listDataFiles(spark, path)
    df.write.mode(SaveMode.Append).parquet(path)
    // Diff on basenames (the index stores basenames; part-file names embed a
    // UUID, unique per write).
    val newFiles = (listDataFiles(spark, path) -- before).toIndexedSeq
      .map(n => s"$path/$n")
    if (newFiles.isEmpty) return
    buildIndexRows(spark.read.parquet(newFiles: _*), statCols, indexExtra)
      .write.mode(SaveMode.Append).parquet(idxDir)
  }

  /** Range-bucket a raw numeric column into `[0, buckets)` over a known
    * `[lo, hi]` envelope — the normalization step before [[zorderKey]]. Double
    * arithmetic: exact placement is irrelevant (the min/max index records TRUE
    * per-file envelopes, so read correctness never depends on bucketing), but
    * keys whose magnitude exceeds 2^53 (e.g. nanosecond epochs) should be
    * pre-scaled by the caller to keep buckets distinct.
    */
  def bucketize(c: Column, lo: Double, hi: Double, buckets: Int): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(greatest(
      floor((c.cast("double") - lit(lo)) * lit(buckets.toDouble) / lit(span * (1 + 1e-9)))
        .cast("long"), lit(0L)), lit((buckets - 1).toLong))
  }

  /** Re-cluster an indexed table in place: read the committed snapshot, Z-order
    * on `cols`, write the NEW generation of data files alongside the old one,
    * publish a new index version, and atomically commit its marker
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` for plain parquet). Streaming
    * appends keep per-BATCH locality ([[graft.streaming.StreamingCorpusSink
    * .indexedSinkStream]]) but eras interleave across files as batches
    * accumulate; a periodic optimize restores global clustering so box
    * predicates prune to the minimum file set again.
    *
    * SNAPSHOT-CONSISTENT for index-resolving readers ([[readPruned]] /
    * [[readCommitted]]): old-generation files are never touched, so a reader
    * concurrent with optimize sees the old or the new layout — never a missing
    * table, never a torn mix. A crash at ANY point before the commit
    * leaves the old version committed and the half-written generation as
    * unreferenced garbage, reclaimed by [[vacuum]]. Consequently optimize does
    * NOT delete the old generation itself — run [[vacuum]] once in-flight
    * readers of the pre-optimize snapshot have drained. Plain directory reads
    * (`spark.read.parquet(path)`) see BOTH generations between commit and
    * vacuum; use the index-resolving readers on tables under maintenance.
    *
    * Single MAINTAINER (one optimize/vacuum at a time — concurrent appends to
    * the pre-optimize version would be orphaned by the commit); any number of
    * concurrent readers. One shuffle of the table, same cost class as any
    * compaction.
    */
  def optimizeZorder(
      spark: org.apache.spark.sql.SparkSession, path: String, cols: Seq[String],
      files: Int, bits: Int = 16): Unit =
    optimizeZorderInternal(spark, path, cols, files, bits, crashBeforeCommit = false)

  /** Test seam: `crashBeforeCommit` stops after the new generation + index
    * version are fully written but BEFORE the commit — the exact state a
    * process crash leaves behind.
    */
  private[graft] def optimizeZorderInternal(
      spark: org.apache.spark.sql.SparkSession, path: String, cols: Seq[String],
      files: Int, bits: Int, crashBeforeCommit: Boolean): Unit = {
    val df = readCommitted(spark, path)
    // Bucket each raw column into [0, 2^bits) over its own min/max (one bounded
    // stats pass), z-order on the BUCKETS, but index the RAW columns — pruning
    // predicates stay in value space. Bucket placement only affects clustering
    // quality, never read correctness (the index records true per-file min/max).
    val n = 1 << bits
    val aggs = count(lit(1)) +: cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val st = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (st.getLong(0) == 0L) return // empty table: nothing to re-cluster
    val zcols = cols.zipWithIndex.map { case (c, i) =>
      require(!st.isNullAt(1 + 2 * i) && !st.isNullAt(2 + 2 * i),
        s"optimizeZorder: column '$c' has no non-null numeric values to bucket on")
      bucketize(col(c), st.getDouble(1 + 2 * i), st.getDouble(2 + 2 * i), n)
    }
    val nextV = committedVersion(spark, path).getOrElse(0) + 1
    val before = listDataFiles(spark, path)
    zorderLayout(df, zcols, files, bits)
      .write.mode(SaveMode.Append).parquet(path) // new generation beside the old
    val newFiles = (listDataFiles(spark, path) -- before).toIndexedSeq
      .map(f => s"$path/$f")
    // Overwrite the version dir: a crashed prior attempt at the same version
    // left only unreferenced rows there.
    buildIndexRows(spark.read.parquet(newFiles: _*), cols, Nil)
      .write.mode(SaveMode.Overwrite).parquet(index(path).versionDir(nextV))
    if (crashBeforeCommit) return
    CommitPointer.commit(spark, index(path), nextV)
  }

  /** Rewrite the committed index as a new compact version (data files
    * untouched): a streaming table gains a few small index files per batch
    * ([[graft.streaming.StreamingCorpusSink.indexedSinkStream]]), and
    * [[readPruned]]'s per-read collect pays per-file listing/footer overhead —
    * after months of batches, the index read costs O(batches), not O(files
    * worth of stats). Same commit discipline as [[optimizeZorder]]: the
    * compacted rows land in `_graft_index/v<N+1>` and its marker is committed
    * atomically, so concurrent readers resolve the old or the new index — both
    * describing the SAME data files. Streaming protocol tags are
    * STRIPPED (a compacted index row is committed by construction; untagged
    * rows are exactly what the exactly-once purge never deletes). Call it
    * between batches / from a maintenance schedule; single maintainer.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val idxDir = committedIndexDir(spark, path).getOrElse(return)
    val nextV = committedVersion(spark, path).getOrElse(0) + 1
    val idx = spark.read.parquet(idxDir)
    val dropTags = idx.columns.filter(c => c == "batch_id" || c == "ckpt_id")
    val rows = idx.count()
    val files = math.max(1, math.ceil(rows / 4e6).toInt) // ~4M one-row-per-file stats
    dropTags.foldLeft(idx) { (d, c) =>
      d.withColumn(c, lit(null).cast(d.schema(c).dataType)) }
      .repartition(files)
      .write.mode(SaveMode.Overwrite).parquet(index(path).versionDir(nextV))
    CommitPointer.commit(spark, index(path), nextV)
    // A pre-versioning FLAT index lives at `_graft_index` itself, which now
    // CONTAINS the new version dir — delete only its flat files, never the
    // dir. A superseded VERSIONED generation is NOT deleted here: its marker
    // is retained by the commit so a stale listing that misses the new
    // marker resolves the previous committed version, which must then still
    // be readable — vacuum (gated on "no readers") reclaims dir + marker.
    // Compare NORMALIZED paths: committedIndexDir returns Hadoop's Path
    // rendering (trailing slashes collapsed), so raw string interpolation
    // over a slash-variant `path` would mis-classify the flat dir (a prior
    // round's else branch recursively deleted _graft_index — new version,
    // markers and all).
    val fs = fsFor(spark, path)
    val flatDir = new org.apache.hadoop.fs.Path(index(path).flat)
    if (new org.apache.hadoop.fs.Path(idxDir) == flatDir)
      fs.listStatus(flatDir).foreach { st =>
        // keep the commit markers (and any _SUCCESS) — only flat index DATA goes
        if (st.isFile && !st.getPath.getName.startsWith("_"))
          fs.delete(st.getPath, false)
      }
    ()
  }

  /** Reclaim everything the committed version does not reference: data files
    * absent from the committed index (pre-optimize generations, crashed
    * half-writes) and index version dirs other than the committed one
    * (including a pre-versioning flat index once a commit exists).
    * Run it AFTER readers of older snapshots have drained — a reader that
    * resolved the previous version's file list loses files under it (same
    * retention contract as Delta's VACUUM). Same single-MAINTAINER rule as
    * [[optimizeZorder]]. No-op on tables without a versioned commit.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val v = committedVersion(spark, path).getOrElse(return)
    val fs = fsFor(spark, path)
    val live = spark.read.parquet(index(path).versionDir(v))
      .select("file").collect().map(_.getString(0)).toSet
    (listDataFiles(spark, path) -- live).foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$f"), false)
    }
    CommitPointer.dropStaleVersions(spark, index(path))
  }

  /** Read the COMMITTED snapshot of an indexed table — the file list resolved
    * through the committed index version, so concurrent maintenance (optimize,
    * pre-vacuum garbage) is invisible. Falls back to a plain directory read for
    * tables without an index.
    */
  def readCommitted(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    committedIndexDir(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(idx) =>
        val files = spark.read.parquet(idx)
          .select("file").collect().map(r => s"$path/${r.getString(0)}")
        if (files.isEmpty) spark.read.parquet(path).limit(0)
        else spark.read.parquet(files.toIndexedSeq: _*)
    }

  /** Files kept / total of the most recent [[readPruned]] on each table path —
    * a concurrency-safe observability hook (the HTTP server prunes for many
    * queries at once; a single shared tuple would interleave their stats).
    */
  private val pruneStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  def lastPruneFor(path: String): Option[(Int, Int)] =
    Option(pruneStats.get(path))

  /** Read back a [[writeIndexed]] table, skipping every file whose `[min, max]`
    * envelope misses any of the requested `ranges` (`col -> (lo, hi)`, inclusive).
    * Pruning is conservative — a kept file may still hold non-matching rows, so
    * callers apply their real filter on top; correctness never depends on the
    * index. The index collect is bounded by the FILE count, not the row count.
    * Resolves through the committed index version, so it is snapshot-consistent
    * under concurrent [[optimizeZorder]].
    */
  def readPruned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ranges: Map[String, (Double, Double)]): DataFrame = {
    val idxDir = committedIndexDir(spark, path).getOrElse(throw new IllegalStateException(
      s"readPruned: $path has no index — create the table with writeIndexed first"))
    // One index scan: collect (file, keep) and count locally — the collect is
    // already bounded by the file count, and a second count() job would reopen
    // the index on every pruned read.
    val keep = ranges.foldLeft(lit(true)) { case (acc, (c, (lo, hi))) =>
      acc && col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }
    // Null stats mean the file's column is ALL null — no row can satisfy a
    // range predicate there, so dropping it is still conservative-correct.
    val entries = spark.read.parquet(idxDir)
      .select(col("file"), coalesce(keep, lit(false)).alias("keep")).collect()
    val files = entries.collect { case r if r.getBoolean(1) =>
      s"$path/${r.getString(0)}" }
    pruneStats.put(path, (files.length, entries.length))
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files.toIndexedSeq: _*)
  }
}
