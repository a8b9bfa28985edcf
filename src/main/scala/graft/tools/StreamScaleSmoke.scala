package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.ScaleLayout
import graft.streaming.{EventStreams, StreamingCorpusSink, StreamingEntityResolution}

/** Scale smoke for the STREAMING sinks: the batch smoke ([[ScaleSmoke]]) proves
  * the batch flagships' scaling; this main proves the per-batch cost of the two
  * stateful streaming sinks stays flat while their accumulated state grows —
  * the property that lets a stream run for months:
  *
  *   - `indexed_sink` — [[StreamingCorpusSink.indexedSinkStream]]: fixed-size
  *     micro-batches of readings append to a min/max-indexed table. 1× = 10
  *     batches, 10× = 100 batches (same batch size), so the LAST batches of the
  *     10× run append to a table ~10× the 1× run's final size. Measured: mean
  *     wall of the first 3 vs last 3 batches (batch 0 excluded — it creates the
  *     table), final index row count (must equal data file count = linear in
  *     appended data), and the RESTART batch — stop the query, reopen the same
  *     checkpoint, push one more batch: its wall includes the full exactly-once
  *     recovery (purge scan + unreferenced-file diff) over the grown table, the
  *     cost that must stay footer-bounded.
  *   - `neardup_stream` — [[EventStreams.curateNearDupStream]]: DISTINCT
  *     document slices per batch (a repeated slice would dedup to nothing), so
  *     the MinHash index grows by ~a batch per batch and the last batches probe
  *     an index holding 10× (1×-run) the accumulated signatures. Same
  *     first/last/restart protocol.
  *
  * Flatness here is approximate, not exact: each batch re-reads the accumulated
  * index once (a map-only scan growing linearly), so per-batch wall may creep —
  * the claim under test is that it tracks the BATCH (no rescan of the table per
  * trigger, no driver-side state proportional to the corpus), which shows up as
  * last/first ratios far below the 10× state growth.
  *
  * Run: `sbt "runMain graft.tools.StreamScaleSmoke"`; raw output
  * `stream_scale_smoke.json`, markdown row pasted into SCALE_SMOKE.md.
  */
object StreamScaleSmoke {

  private def timeBatch(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkProfile.session("graft-streamscalesmoke")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val work = java.nio.file.Files.createTempDirectory("graft_ssmoke_").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]

    def report(name: String, scaleTag: String, walls: Seq[Double],
        restartSec: Double, stateRows: Long, outRows: Long): Map[String, String] = {
      val steady = walls.drop(1) // batch 0 creates the table
      val first = steady.take(3); val last = steady.takeRight(3)
      val row = Map(
        "query" -> name, "scale" -> scaleTag, "batches" -> walls.size.toString,
        "first3_sec" -> f"${first.sum / first.size}%.2f",
        "last3_sec" -> f"${last.sum / last.size}%.2f",
        "flatness" -> f"${(last.sum / last.size) / (first.sum / first.size)}%.2f",
        "restart_batch_sec" -> f"$restartSec%.2f",
        "state_rows" -> stateRows.toString, "out_rows" -> outRows.toString)
      println(s"[stream-scale] $name $scaleTag batches=${walls.size} " +
        s"first3=${row("first3_sec")}s last3=${row("last3_sec")}s " +
        s"flatness=${row("flatness")} restart=${row("restart_batch_sec")}s " +
        s"state=$stateRows out=$outRows")
      row
    }

    // ---- indexed sink: fixed 20k-row batches over a monotone value column ----
    def runIndexedSink(tag: String, batches: Int): Unit = {
      val dir = s"$work/idx_$tag"
      val batchRows = 20000
      val ms = MemoryStream[(Long, Long)]
      val src = ms.toDF().toDF("id", "v")
      var q = StreamingCorpusSink.indexedSinkStream(
        src, s"$dir/t", s"$dir/ckpt", Seq("v"), batchPartitions = 4)
      val walls = (0 until batches).map { b =>
        val lo = b.toLong * batchRows
        ms.addData((lo until lo + batchRows).map(i => (i, i)))
        timeBatch(q.processAllAvailable())
      }
      q.stop()
      // restart on the SAME checkpoint: the first batch pays the exactly-once
      // recovery (purge + orphan diff) over the full grown table
      q = StreamingCorpusSink.indexedSinkStream(
        src, s"$dir/t", s"$dir/ckpt", Seq("v"), batchPartitions = 4)
      val lo = batches.toLong * batchRows
      ms.addData((lo until lo + batchRows).map(i => (i, i)))
      val restart = timeBatch(q.processAllAvailable())
      q.stop()
      val idxRows = spark.read
        .parquet(ScaleLayout.committedIndexDir(spark, s"$dir/t").get).count()
      val outRows = spark.read.parquet(s"$dir/t").count()
      require(outRows == (batches + 1).toLong * batchRows,
        s"indexed sink lost rows: $outRows")
      // era-selective prune must keep working at full size
      val era = ScaleLayout.readPruned(spark, s"$dir/t",
        Map("v" -> (0.0, batchRows - 1.0))).count()
      require(era == batchRows, s"pruned era read returned $era")
      results += report("indexed_sink", tag, walls, restart, idxRows, outRows)
    }

    // ---- near-dup curation stream: distinct 500-doc slices per batch ---------
    def runNearDup(tag: String, batches: Int): Unit = {
      val dir = s"$work/nd_$tag"
      val slice = 500
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long"), lower(col("text")).alias("text"))
        .orderBy("doc_id").limit((batches + 1) * slice)
        .as[(Long, String)].collect()
      val ms = MemoryStream[(Long, String)]
      val src = ms.toDF().toDF("doc_id", "text")
      var q = EventStreams.curateNearDupStream(
        src, s"$dir/index", s"$dir/out", s"$dir/ckpt")
      val walls = (0 until batches).map { b =>
        ms.addData(docs.slice(b * slice, (b + 1) * slice).toIndexedSeq)
        timeBatch(q.processAllAvailable())
      }
      q.stop()
      q = EventStreams.curateNearDupStream(
        src, s"$dir/index", s"$dir/out", s"$dir/ckpt")
      ms.addData(docs.slice(batches * slice, (batches + 1) * slice).toIndexedSeq)
      val restart = timeBatch(q.processAllAvailable())
      q.stop()
      val idxRows = spark.read
        .parquet(graft.util.CommitPointer.liveDir(spark, s"$dir/index")).count()
      val outRows = spark.read.parquet(s"$dir/out").count()
      results += report("neardup_stream", tag, walls, restart, idxRows, outRows)
    }

    // ---- entity-resolution linkage stream: distinct record slices per batch --
    // Catalog state grows by ~a batch of new entities per batch (names are made
    // distinct across synthesized copies, the ScaleSmoke salt pattern), so the
    // 10× run's last batches link against a 10× catalog — the honest per-batch
    // cost is O(batch + catalog scan); `state_rows` reports the catalog size.
    def runErLink(tag: String, batches: Int): Unit = {
      val dir = s"$work/er_$tag"
      val per = 300
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").alias("id"),
          concat_ws(" ", org.apache.spark.sql.functions.slice(
            graft.operators.Dedup.wordsArray(col("text")), 1, 6)).alias("name"))
        .filter(length(col("name")) > 0)
      val recs = (0 until 7).map { k =>
        if (k == 0) base
        else base.select((col("id") + k * 1000000L).alias("id"),
          regexp_replace(col("name"), "([a-z0-9]+)", "$1x" + k).alias("name"))
      }.reduce(_ union _)
        .orderBy("id").limit((batches + 1) * per)
        .as[(Long, String)].collect()
      require(recs.length == (batches + 1) * per,
        s"fixture too small: ${recs.length} records for ${batches + 1} slices")
      val ms = MemoryStream[(Long, String)]
      val src = ms.toDF().toDF("id", "name")
      // compactAt=8 so the 10× run compacts ~12 times: the claim under test is
      // that the LIVE-dir file count is bounded by the threshold — flat in
      // batch count — not that compaction merely exists
      var q = StreamingEntityResolution.linkStream(
        src, s"$dir/catalog", s"$dir/assign", s"$dir/ckpt", compactAt = 8)
      val fileCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
      def liveFiles(d: String): Int = {
        val live = new java.io.File(graft.util.CommitPointer.liveDir(spark, d)
          .stripPrefix("file:"))
        if (!live.exists()) 0
        else live.listFiles().count(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_"))
      }
      val walls = (0 until batches).map { b =>
        ms.addData(recs.slice(b * per, (b + 1) * per).toIndexedSeq)
        val w = timeBatch(q.processAllAvailable())
        fileCounts += liveFiles(s"$dir/catalog")
        w
      }
      q.stop()
      q = StreamingEntityResolution.linkStream(
        src, s"$dir/catalog", s"$dir/assign", s"$dir/ckpt", compactAt = 8)
      ms.addData(recs.slice(batches * per, (batches + 1) * per).toIndexedSeq)
      val restart = timeBatch(q.processAllAvailable())
      q.stop()
      val catRows = StreamingEntityResolution
        .catalogTable(spark, s"$dir/catalog").count()
      val outRows = StreamingEntityResolution
        .assignmentsTable(spark, s"$dir/assign").count()
      val maxFiles = fileCounts.max
      require(maxFiles <= 8 + 1, // threshold + the freshly-appended batch file
        s"er catalog live dir grew past the compaction bound: $maxFiles files")
      println(s"[stream-scale] er_link_stream $tag catalog_files max=$maxFiles " +
        s"end=${fileCounts.last} (compactAt=8, ${batches} batches)")
      results += (report("er_link_stream", tag, walls, restart, catRows, outRows)
        + ("catalog_files_max" -> maxFiles.toString)
        + ("catalog_files_end" -> fileCounts.last.toString))
    }

    // SPARK_GRAFT_STREAM_ONLY=er|neardup|indexed narrows the run when
    // iterating on one sink's slope; unset = full suite (the committed rows)
    val onlySink = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
    def want(k: String): Boolean = onlySink.forall(_ == k)
    runIndexedSink("warm", 3) // JIT/codegen warmup, discarded
    results.clear()
    if (want("indexed")) { runIndexedSink("1x", 10); runIndexedSink("10x", 100) }
    if (want("neardup")) { runNearDup("1x", 10); runNearDup("10x", 100) }
    if (want("er")) { runErLink("1x", 10); runErLink("10x", 100) }

    SmokeMeter.writeRows("stream_scale_smoke.json", s""""sf":"$sfDir"""", results.toSeq)
    graft.util.Fs.deleteTree(work)
    spark.stop()
  }
}
