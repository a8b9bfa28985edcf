package graft

import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Spark's global rule meter, read per rule. The suites run one at a time in one
  * JVM, so no other query moves it while a test reads it.
  */
object RuleMeter {
  /** Total runs of each named analyzer/optimizer rule since the last
    * `RuleExecutor.resetMetrics()`.
    */
  def runs(rules: String*): Map[String, Long] = {
    val dump = RuleExecutor.dumpTimeSpent().linesIterator.toSeq
    rules.map { r =>
      val line = dump.find(_.trim.startsWith(r + " "))
      r -> line.map(_.trim.split("\\s+").last.toLong).getOrElse(0L)
    }.toMap
  }
}
