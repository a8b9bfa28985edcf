package graft.api

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Laws for the QueryCache sweep (A17): the cache is bounded by count AND age,
  * the entry just written is never the victim, half-written leftovers are
  * collected, and the grace window keeps recently-readable entries on disk for
  * lazy readers. Reference behavior: ibis-server/app/query_cache/manager.py
  * (TTL'd Arrow files); the count bound and grace window are this engine's
  * hardening on top.
  */
class QueryCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_cache_spec_").toString

  private def allDirs(root: String): Seq[Path] = {
    val s = Files.list(Paths.get(root))
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ListBuffer.empty[Path]
      while (it.hasNext) { val p = it.next(); if (Files.isDirectory(p)) buf += p }
      buf.toList
    } finally s.close()
  }

  /** SERVABLE entries: _SUCCESS present and not tombstoned. Count-eviction is
    * two-phase (tombstone on selection, delete a sweep later once graceMillis
    * past the tombstone), so a dying directory may linger briefly on disk while
    * already invisible to get()/createdAt.
    */
  private def liveDirs(root: String): Seq[Path] =
    allDirs(root).filter(d => Files.exists(d.resolve("_SUCCESS")) &&
      !Files.exists(d.resolve("_EVICTED")))

  private def put(cache: QueryCache, sql: String): Unit = {
    val df = spark.range(3).toDF("id")
    cache.put(df, "m", sql, Map.empty)
    Thread.sleep(15) // order _SUCCESS mtimes across puts
  }

  test("sweep bounds the cache to maxEntries, evicting oldest first") {
    val root = tmpRoot()
    val cache = new QueryCache(root, ttlMillis = 10 * 60 * 1000, maxEntries = 3,
      graceMillis = 0)
    val sqls = (1 to 5).map(i => s"SELECT $i AS v")
    sqls.foreach(put(cache, _))
    assert(liveDirs(root).size == 3, "count bound must hold after 5 distinct puts")
    // oldest two evicted, newest three (incl. the just-written) kept
    assert(cache.createdAt("m", sqls(0), Map.empty).isEmpty, "oldest must be evicted")
    assert(cache.createdAt("m", sqls(1), Map.empty).isEmpty, "2nd-oldest must be evicted")
    (2 to 4).foreach { i =>
      assert(cache.createdAt("m", sqls(i), Map.empty).isDefined, s"newest 3 kept: $i")
    }
    // the next sweep collects tombstoned directories aged past grace (= 0 here)
    put(cache, sqls(4))
    assert(allDirs(root).size == 3, "tombstoned dirs are deleted by a later sweep")
    cache.invalidateAll()
  }

  test("the entry just written is never the victim, even at maxEntries = 1") {
    val root = tmpRoot()
    val cache = new QueryCache(root, ttlMillis = 10 * 60 * 1000, maxEntries = 1,
      graceMillis = 0)
    put(cache, "SELECT 'a' AS v")
    put(cache, "SELECT 'b' AS v")
    assert(cache.createdAt("m", "SELECT 'b' AS v", Map.empty).isDefined,
      "just-written entry must survive its own sweep")
    assert(cache.createdAt("m", "SELECT 'a' AS v", Map.empty).isEmpty)
    assert(liveDirs(root).size == 1)
    put(cache, "SELECT 'b' AS v") // next sweep collects the aged tombstone
    assert(allDirs(root).size == 1)
    // and the frame the put returned is still readable (reads the kept entry)
    val df = cache.get(spark, "m", "SELECT 'b' AS v", Map.empty)
    assert(df.isDefined && df.get.count() == 3)
    cache.invalidateAll()
  }

  test("a half-written leftover (no _SUCCESS) is collected once past TTL+grace") {
    val root = tmpRoot()
    val cache = new QueryCache(root, ttlMillis = 50, maxEntries = 8, graceMillis = 0)
    // simulate a crashed put: directory with data but no _SUCCESS marker
    val stale = Paths.get(root, "deadbeefdeadbeefdeadbeefdeadbeef")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val past = FileTime.fromMillis(System.currentTimeMillis() - 10 * 60 * 1000)
    Files.setLastModifiedTime(stale, past)
    put(cache, "SELECT 1 AS v") // sweep runs on put
    assert(!Files.exists(stale), "half-written leftover must be collected")
    cache.invalidateAll()
  }

  test("grace window defers deletion so a lazy reader's files stay on disk") {
    val root = tmpRoot()
    // TTL expires quickly, but grace holds files for 10 minutes
    val cache = new QueryCache(root, ttlMillis = 2000, maxEntries = 8,
      graceMillis = 10 * 60 * 1000)
    put(cache, "SELECT 'x' AS v")
    val lazyReader = cache.get(spark, "m", "SELECT 'x' AS v", Map.empty)
    assert(lazyReader.isDefined)
    Thread.sleep(2100) // past TTL: no longer served...
    assert(cache.get(spark, "m", "SELECT 'x' AS v", Map.empty).isEmpty)
    put(cache, "SELECT 'y' AS v") // ...and a sweep runs
    // ...but the expired entry's files survive inside the grace window,
    // so the handle issued before expiry still materializes
    assert(lazyReader.get.count() == 3,
      "files backing an issued handle must survive TTL expiry within grace")
    cache.invalidateAll()
  }

  test("sweep survives an entry vanishing mid-walk (best-effort eviction)") {
    val root = tmpRoot()
    val cache = new QueryCache(root, ttlMillis = 50, maxEntries = 8, graceMillis = 0)
    // an expired entry whose directory is unreadable mid-delete is skipped, not fatal:
    // emulate by racing a delete between the listing and rm via a dangling dir
    val ghost = Paths.get(root, "feedfacefeedfacefeedfacefeedface")
    Files.createDirectories(ghost)
    val past = FileTime.fromMillis(System.currentTimeMillis() - 10 * 60 * 1000)
    Files.setLastModifiedTime(ghost, past)
    // put must not throw even if eviction of other entries hits IO errors
    put(cache, "SELECT 2 AS v")
    assert(cache.createdAt("m", "SELECT 2 AS v", Map.empty).isDefined)
    cache.invalidateAll()
  }

  test("a hit starts no Spark job and reads back the entry's schema and rows") {
    val root = tmpRoot()
    val cache = new QueryCache(root)
    val src = spark.range(5).toDF("id").selectExpr("id", "cast(id AS string) AS s")
    val written = cache.put(src, "m", "SELECT rows", Map.empty)
    val (hit, jobs) = graft.JobMeter.jobs(spark)(cache.get(spark, "m", "SELECT rows", Map.empty))
    assert(jobs == 0, s"a cache hit started $jobs Spark job(s)")
    val stored = spark.read.parquet(Paths.get(root).toFile.listFiles().head.getPath)
    for (df <- Seq(hit.get, written)) {
      assert(df.schema == stored.schema)
      assert(df.collect().toSet == src.collect().toSet)
    }
    cache.invalidateAll()
  }
}
