package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session profile every entry point (server, CLIs, tools) runs with. */
object SparkProfile {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, otherwise every core the JVM sees. */
  def cores: Int = cores(sys.env.get("SPARK_GRAFT_CPUS"))

  def cores(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))
  }

  def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // read only when events.parquet carries legacy NANOS columns (see
    // queries.Relational.normalizeEventTs: queries normalize either shape)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Spark's default of 100 generated classes is smaller than a served
    // working set: TPC-H plan-cache hits ran 538 ms/query at 100 and 255 at
    // 1000 (4 cores, sf0.01).
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** For `main`s only: on a JVM that already has a session, `getOrCreate`
    * rewrites that session's runtime confs. Library code plans on
    * `SparkSession.active` instead.
    */
  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName).config(settings(cores)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
