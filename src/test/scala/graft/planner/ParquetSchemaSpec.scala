package graft.planner

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, JobMeter, TestSpark}
import graft.queries.TpcH

/** `Bridge.parquetSchema` reads a parquet source's schema from one footer on
  * the driver. It must return what Spark's own inference returns, nullability
  * and metadata included, and the rows read under it must be the rows Spark
  * reads. A deploy over parquet sources then starts no Spark job.
  */
class ParquetSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh path that does not exist yet, for Spark to write. */
  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_pq_schema_")
    Files.delete(d)
    d.toString
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The helper's schema equals Spark's, its read starts no job, and the rows
    * read under it are Spark's rows.
    */
  private def assertParity(path: String, rows: Boolean = true): Unit = {
    val (schema, jobs) = JobMeter.jobs(spark)(Bridge.parquetSchema(spark, path))
    val inferred = spark.read.parquet(path)
    assert(schema == inferred.schema, s"$path: footer schema differs from Spark's inference")
    assert(jobs == 0, s"$path: the footer read started $jobs Spark job(s)")
    if (rows) {
      val read = spark.read.format("parquet").schema(schema).load(path)
      assert(read.schema == inferred.schema, s"$path: the read's schema differs")
      assert(sameRows(read, inferred), s"$path: rows differ")
    }
  }

  test("every fixture file reads Spark's schema and rows, events' legacy NANOS included") {
    val fixtureRoot = new java.io.File(TestSpark.sfDir).getParentFile
    val files = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      f <- new java.io.File(fixtureRoot, sf).listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".parquet")
    } yield (sf, f.getPath)
    assert(files.size == 30, s"expected 10 fixtures per scale: ${files.map(_._2)}")
    assert(files.exists(_._2.endsWith("events.parquet")))
    // rows at the two smaller scales; the sf0.1 files share their writer
    files.foreach { case (sf, p) => assertParity(p, rows = sf != "sf0.1") }
  }

  test("a multi-file directory reads the first data file's schema, as Spark does") {
    val d = tmp()
    spark.range(0, 50).toDF("id").write.parquet(d)
    spark.range(50, 100).toDF("id").withColumn("extra", lit("x"))
      .write.mode(SaveMode.Append).parquet(d)
    assert(new java.io.File(d).listFiles().count(_.getName.startsWith("part-")) >= 2)
    assertParity(d)
    graft.util.Fs.deleteTree(d)
  }

  test("a hive-partitioned directory keeps its path-derived partition column") {
    val d = tmp()
    spark.range(0, 40).toDF("id").withColumn("k", col("id") % 3)
      .write.partitionBy("k").parquet(d)
    assert(new java.io.File(s"$d/k=1").isDirectory)
    assertParity(d)
    assert(spark.read.format("parquet").schema(Bridge.parquetSchema(spark, d)).load(d)
      .schema.fieldNames.toSeq == Seq("id", "k"))
    graft.util.Fs.deleteTree(d)
  }

  test("a Spark-written directory with _SUCCESS, and one with summary files") {
    val d = tmp()
    spark.range(0, 20).toDF("id").withColumn("s", col("id").cast("string"))
      .coalesce(2).write.parquet(d)
    assert(new java.io.File(s"$d/_SUCCESS").exists)
    assertParity(d)
    val withSummary = tmp()
    spark.range(0, 20).toDF("id").write.mode(SaveMode.Overwrite)
      .option("parquet.summary.metadata.level", "ALL").parquet(withSummary)
    assert(new java.io.File(s"$withSummary/_common_metadata").exists)
    assertParity(withSummary)
    Seq(d, withSummary).foreach(graft.util.Fs.deleteTree(_))
  }

  test("a 0-row file") {
    val d = tmp()
    spark.range(0).toDF("id").withColumn("s", lit("x")).coalesce(1).write.parquet(d)
    val file = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(spark.read.parquet(file.getPath).isEmpty)
    assertParity(file.getPath)
    graft.util.Fs.deleteTree(d)
  }

  test("under mergeSchema the helper returns Spark's merged schema") {
    val d = tmp()
    spark.range(0, 10).toDF("id").write.parquet(d)
    spark.range(10, 20).toDF("id").withColumn("extra", lit("x"))
      .write.mode(SaveMode.Append).parquet(d)
    val merging = Bridge.cloneSession(spark)
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = merging.read.parquet(d).schema
    assert(merged.fieldNames.toSet == Set("id", "extra"))
    assert(Bridge.parquetSchema(merging, d) == merged)
    graft.util.Fs.deleteTree(d)
  }

  test("a TPC-H deploy over parquet sources starts no Spark job") {
    val dir = TestSpark.sfDir
    val (sess, jobs) = JobMeter.jobs(spark)(
      GraftEngine.deploy(spark, TpcH.manifest, new PathResolver(dir)))
    assert(jobs == 0, s"the deploy started $jobs Spark job(s)")
    assert(sess.query("SELECT count(*) FROM orders").head.getLong(0) ==
      spark.read.parquet(s"$dir/orders.parquet").count())
  }

  test("building the d2_dedup_minhash and p1_curate DataFrames starts no Spark job") {
    for (entry <- Seq("d2_dedup_minhash", "p1_curate")) {
      val (df, jobs) =
        JobMeter.jobs(spark)(graft.SparkEntry.queries(entry)(spark, TestSpark.sfDir))
      assert(jobs == 0, s"building $entry started $jobs Spark job(s)")
      assert(df.schema.nonEmpty)
    }
  }
}
