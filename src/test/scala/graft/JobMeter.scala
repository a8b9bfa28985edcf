package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Spark jobs a block starts, counted by a listener once the listener bus has
  * drained. The suites run one at a time in one JVM, so no other test's job
  * lands in the count.
  */
object JobMeter {
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    Bridge.drainListenerBus(spark)
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      Bridge.drainListenerBus(spark)
      (result, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
