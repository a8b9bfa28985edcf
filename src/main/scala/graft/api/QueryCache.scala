package graft.api

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** File-based query result cache (A17): the reference caches Arrow results on disk
  * keyed by (datasource, sql, connection info) with TTL
  * (`ibis-server/app/query_cache/manager.py:18-161`). Spark-native equivalent: results
  * land as parquet under `root/<key>/`, where the key hashes the manifest identity,
  * SQL text, and session properties. Parquet keeps the cache splittable and
  * predicate-pushable if a reader queries it directly — at scale the cache is just
  * another table.
  */
final class QueryCache(root: String, ttlMillis: Long = 10 * 60 * 1000,
    maxEntries: Int = 256, graceMillis: Long = 60 * 1000) {
  // maxEntries = 0 would make `drop(maxEntries - 1)` keep EVERY live entry —
  // the opposite of the tightest bound — so reject it up front.
  require(maxEntries >= 1, s"maxEntries must be >= 1 (got $maxEntries)")

  private def keyOf(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      val bytes = p.getBytes("UTF-8")
      // length prefix so part boundaries can't alias ("ab","c" vs "a","bc")
      md.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private def dirFor(key: String) = Paths.get(root, key)

  def get(spark: SparkSession, manifestId: String, sql: String,
      props: Map[String, String]): Option[DataFrame] = {
    val d = dirFor(keyOf(manifestId, sql, props.toSeq.sorted.mkString(";")))
    val marker = d.resolve("_SUCCESS")
    // a tombstoned entry (count-evicted, see sweep) is a miss: handles issued
    // BEFORE the tombstone get the full grace window to run; issuing new ones
    // would let a handle race the deletion
    if (Files.exists(marker) && !Files.exists(d.resolve(Evicted)) &&
      System.currentTimeMillis() - Files.getLastModifiedTime(marker).toMillis < ttlMillis)
      Some(Bridge.readParquet(spark, d.toString)) // schema from the footer: a hit starts no job
    else None
  }

  private val Evicted = "_EVICTED"

  def put(df: DataFrame, manifestId: String, sql: String,
      props: Map[String, String]): DataFrame = {
    val d = dirFor(keyOf(manifestId, sql, props.toSeq.sorted.mkString(";")))
    df.write.mode(SaveMode.Overwrite).parquet(d.toString)
    sweep(keep = d)
    Bridge.readParquet(df.sparkSession, d.toString)
  }

  /** Bound the cache by age AND count. Expired entries are deleted first; if the
    * directory still holds more than `maxEntries` live entries, the oldest (by
    * completion time) are evicted — so sustained DISTINCT-SQL load cannot grow the
    * cache without bound between TTL expiries. Runs on every put: the listing is
    * one directory scan of ≤ maxEntries+1 names, trivial next to the parquet
    * write it follows. The entry just written is never the victim.
    *
    * Two safety rules: (1) deletion is best-effort per entry — a concurrent put
    * or sweep racing on the same directory must not fail THIS put after its
    * parquet write already succeeded; (2) nothing is deleted until `graceMillis`
    * past its EVICTION POINT — TTL expiry, or for the count bound the sweep
    * that SELECTED the entry (recorded by an `_EVICTED` tombstone; a later
    * sweep deletes once the tombstone ages past the grace) — so a lazy
    * DataFrame handed out by a recent `get()`, which reads the files only at
    * action time, is not pulled out from under the caller. `get()` stops
    * serving at `ttlMillis` and at tombstoning, so the grace window only
    * protects readers that already hold a handle; the count bound is soft by
    * at most the entries written inside one grace window.
    */
  private def sweep(keep: java.nio.file.Path): Unit = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return
    val now = System.currentTimeMillis()
    val entries = {
      val s = Files.list(r)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ListBuffer.empty[(java.nio.file.Path, Long)]
        while (it.hasNext) {
          val d = it.next()
          if (Files.isDirectory(d) && d.getFileName != keep.getFileName) {
            val marker = d.resolve("_SUCCESS")
            val ts = if (Files.exists(marker)) Files.getLastModifiedTime(marker).toMillis
              else Files.getLastModifiedTime(d).toMillis // half-written leftover
            buf += ((d, ts))
          }
        }
        buf.toList
      } finally s.close()
    }
    def rm(d: java.nio.file.Path): Unit = graft.util.Fs.deleteTree(d)
    val (dead, live) = entries.partition { case (_, ts) => now - ts >= ttlMillis }
    dead.collect { case (d, ts) if now - ts >= ttlMillis + graceMillis => rm(d) }
    // Count-based eviction is two-phase so the grace window runs from the
    // EVICTION POINT, not entry creation (an old-but-live entry may have been
    // served by get() a millisecond ago): selection writes an _EVICTED
    // tombstone (which also stops get() from issuing new handles); a later
    // sweep deletes the entry once the tombstone is graceMillis old.
    val (tombstoned, candidates) = live.partition { case (d, _) =>
      Files.exists(d.resolve(Evicted))
    }
    tombstoned.foreach { case (d, _) =>
      val evTs =
        try Files.getLastModifiedTime(d.resolve(Evicted)).toMillis
        catch { case _: java.io.IOException => now } // vanished mid-sweep
      if (now - evTs >= graceMillis) rm(d)
    }
    // keep the newest maxEntries-1 besides the entry just written; tombstone
    // the rest (best-effort — a racing sweep may have marked or removed them)
    candidates.sortBy(-_._2).drop(math.max(maxEntries - 1, 0)).foreach { case (d, _) =>
      try { Files.createFile(d.resolve(Evicted)); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Creation time (epoch ms) of a live cache entry — the `X-Cache-Create-At`
    * header's value (reference: `get_cache_file_timestamp`, query_cache/manager.py).
    */
  def createdAt(manifestId: String, sql: String, props: Map[String, String]): Option[Long] = {
    val d = dirFor(keyOf(manifestId, sql, props.toSeq.sorted.mkString(";")))
    val marker = d.resolve("_SUCCESS")
    // a tombstoned entry is no longer served (see get), so it has no create-at
    if (Files.exists(marker) && !Files.exists(d.resolve(Evicted)))
      Some(Files.getLastModifiedTime(marker).toMillis)
    else None
  }

  def invalidateAll(): Unit = {
    val r = Paths.get(root)
    if (Files.exists(r)) graft.util.Fs.deleteTree(r)
  }
}
