package graft.util

import org.apache.spark.sql.SparkSession

/** Atomic generation commit for state that is periodically rewritten
  * (compaction, re-clustering). A generation is written whole under
  * `<root>/v<N>`, then committed by CREATING the immutable empty marker
  * `<root>/_commit_v<N>`; the committed generation is the largest N present.
  * Until a first commit the live data is the flat legacy dir, so data written
  * before any commit needs no migration, and a legacy pointer file holding
  * `v<N>` (the single-file scheme that preceded markers) is still honored.
  *
  * A [[Layout]] names those three places. Two layouts use this protocol:
  *   - any directory `dir` (the `String` API below — the streaming sinks'
  *     indexes, catalogs and assignments): flat `dir`, generations under
  *     `dir/_versions`, legacy pointer `dir/_commit`;
  *   - an indexed table's min/max index ([[graft.operators.ScaleLayout]]),
  *     whose flat index dir is also its generation root, next to a legacy
  *     pointer file ScaleLayout names.
  */
object CommitPointer {

  /** Where a layout keeps its flat legacy data, its generations and commit
    * markers (`root`), and its legacy pointer file.
    */
  final case class Layout(flat: String, root: String, pointer: String) {
    def versionDir(v: Int): String = s"$root/v$v"
  }

  /** The directory layout: `dir`, `dir/_versions`, `dir/_commit`. */
  private def layout(dir: String): Layout = Layout(dir, s"$dir/_versions", s"$dir/_commit")

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versionDir(dir: String, v: Int): String = layout(dir).versionDir(v)

  private val markerRe = "_commit_v(\\d+)".r

  def committedVersion(spark: SparkSession, dir: String): Option[Int] =
    committedVersion(spark, layout(dir))

  /** Commits are IMMUTABLE `_commit_v<N>` marker files and the committed
    * version is the largest N present: a single mutable pointer replaced by
    * rename is not atomic on every filesystem (Hadoop's local-FS
    * rename-with-OVERWRITE deletes the destination first, leaving a
    * pointerless instant a concurrent reader can observe). A legacy pointer
    * file is still honored for layouts written before markers.
    */
  def committedVersion(spark: SparkSession, l: Layout): Option[Int] = {
    val fs = fsFor(spark, l.root)
    val root = new org.apache.hadoop.fs.Path(l.root)
    val markers =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case markerRe(n) => n.toInt
      }
    if (markers.nonEmpty) Some(markers.max)
    else {
      val cp = new org.apache.hadoop.fs.Path(l.pointer)
      if (!fs.exists(cp)) None
      else {
        val in = fs.open(cp)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          out.toString("UTF-8").trim
        } finally in.close()
        require(txt.matches("v\\d+"), s"corrupt commit pointer $cp: '$txt'")
        Some(txt.drop(1).toInt)
      }
    }
  }

  /** The directory readers and appenders should use right now. */
  def liveDir(spark: SparkSession, dir: String): String = {
    val l = layout(dir)
    committedVersion(spark, l).fold(l.flat)(l.versionDir)
  }

  def commit(spark: SparkSession, dir: String, version: Int): Unit =
    commit(spark, layout(dir), version)

  /** Publish `version` as live: atomically CREATE the immutable marker, then
    * lazily drop older markers and any legacy pointer — at every instant at
    * least one committed marker exists and resolution takes the max. The
    * version dir must be fully written first; a crash before this call leaves
    * the previous generation live and the new one as unreferenced staging.
    *
    * The PREVIOUS version's marker is retained (only markers `< version - 1`
    * are dropped): object-store listings are not read-after-write consistent
    * with a concurrent lister, so a reader whose listing misses the
    * just-created marker must still resolve the previous COMMITTED version —
    * never fall through to the flat legacy dir. Staleness spanning two
    * commits is outside the model (commits are maintenance-rate, listings
    * converge in seconds). [[dropStaleVersions]] — gated on "no readers" —
    * is where the N-1 marker and dir are finally reclaimed.
    */
  def commit(spark: SparkSession, l: Layout, version: Int): Unit = {
    val fs = fsFor(spark, l.root)
    fs.create(new org.apache.hadoop.fs.Path(s"${l.root}/_commit_v$version"), true).close()
    fs.listStatus(new org.apache.hadoop.fs.Path(l.root)).foreach { st =>
      st.getPath.getName match {
        case markerRe(n) if n.toInt < version - 1 => fs.delete(st.getPath, false)
        case _ =>
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(l.pointer), false)
    ()
  }

  def dropStaleVersions(spark: SparkSession, dir: String): Unit =
    dropStaleVersions(spark, layout(dir))

  /** Delete everything under the generation root except the committed
    * version dir and its marker (crashed stagings, superseded generations,
    * and flat data sharing the root once a commit supersedes it) — call only
    * when no reader can hold the previous generation (a single-writer stream
    * between batches, a vacuum). With no commit at all, EVERY version dir is
    * uncommitted staging — the flat dir is the live data — so all of them are
    * dropped (the crashed-first-compaction case); a layout whose root IS its
    * flat dir must therefore call this only once a commit exists.
    */
  def dropStaleVersions(spark: SparkSession, l: Layout): Unit = {
    val fs = fsFor(spark, l.root)
    val root = new org.apache.hadoop.fs.Path(l.root)
    if (!fs.exists(root)) return
    val keep = committedVersion(spark, l)
      .map(v => Set(s"v$v", s"_commit_v$v")).getOrElse(Set.empty[String])
    fs.listStatus(root).foreach { st =>
      if (!keep.contains(st.getPath.getName)) fs.delete(st.getPath, true)
    }
  }
}
