package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

import graft.api.ResultFormatter.jsonString

/** Stage-granular shuffle meter shared by the scale-smoke mains: total bytes
  * written across stages and the single largest stage — the peak is what
  * bounds executor/disk pressure at a fixed partition count. It is the one
  * SparkListener the tools register ([[SmokeMeter.register]]).
  */
private[tools] final class SmokeMeter private (spark: SparkSession) extends SparkListener {
  val total = new java.util.concurrent.atomic.AtomicLong(0)
  val peak = new java.util.concurrent.atomic.AtomicLong(0)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    total.addAndGet(w)
    peak.getAndAccumulate(w, (a, b) => math.max(a, b))
  }
  def reset(): Unit = { total.set(0); peak.set(0) }

  /** Waits until every stage event so far has reached this meter. */
  def drain(): Unit = Bridge.drainListenerBus(spark)

  /** Best of `runs`: each run clears the CacheManager, times `action` (which
    * returns a row count) and drains the listener bus. Returns the best wall
    * seconds with that run's rows, total and peak-stage shuffle bytes.
    */
  def best(runs: Int)(action: => Long): (Double, Long, Long, Long) = {
    var best = (Double.MaxValue, 0L, 0L, 0L)
    for (_ <- 0 until runs) {
      spark.catalog.clearCache()
      reset()
      val t0 = System.nanoTime()
      val rows = action
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      if (dt < best._1) best = (dt, rows, total.get, peak.get)
    }
    best
  }
}

private[tools] object SmokeMeter {
  def register(spark: SparkSession): SmokeMeter = {
    val meter = new SmokeMeter(spark)
    spark.sparkContext.addSparkListener(meter)
    meter
  }

  /** Writes `{<head>,"results":[rows]}` to `file` and prints it; `head` is
    * raw JSON members, each row a flat object of strings.
    */
  def writeRows(file: String, head: String, rows: Seq[Map[String, String]]): Unit = {
    val json = rows.map(_.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
        .mkString("{", ",", "}"))
      .mkString(s"""{$head,"results":[""", ",", "]}")
    java.nio.file.Files.write(java.nio.file.Paths.get(file), json.getBytes("UTF-8"))
    println(json)
  }
}
