package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, TestSpark}
import graft.mdl._
import graft.planner.{GraftException, PathResolver, StreamingPathResolver}
import graft.queries.Semantic

/** The semantic layer over Structured Streaming ([[StreamingPathResolver]]):
  * models resolved to `readStream` sources must plan the SAME governed
  * semantics as batch — RLAC @property filters, to-one calc fields
  * (stream⨝static), CLAC column omission — and an AvailableNow drain of a
  * static directory must equal the batch deployment's answer row for row.
  */
class StreamingSemanticSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def drainToRows(sql: String, props: Map[String, String]): Seq[(Long, String, Double)] = {
    val sess = GraftEngine.deploy(spark, Semantic.streamManifest,
      new StreamingPathResolver(dir, Set("orders")), props)
    val stream = sess.query(sql)
    assert(stream.isStreaming, "model over readStream must plan as a streaming query")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sss_").toString
    val q = stream.writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.parquet(s"$tmp/out")
      .select("o_orderkey", "cust_segment", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    graft.util.Fs.deleteTree(tmp)
    rows
  }

  test("streamed model equals the batch deployment: RLAC + calc field over readStream") {
    val sql = "SELECT o_orderkey, cust_segment, o_totalprice FROM s_orders"
    val props = Map("min_total" -> "300000")
    val streamed = drainToRows(sql, props)
    val batch = GraftEngine.deploy(spark, Semantic.streamManifest,
        new PathResolver(dir), props)
      .query(sql)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    assert(streamed.nonEmpty, "fixture must have orders above the threshold")
    assert(streamed == batch, s"stream drain must equal batch: ${streamed.size} vs ${batch.size} rows")
    // the RLAC filter really governed the stream
    assert(streamed.forall(_._3 > 300000.0))
  }

  test("resolving a stream table reads its schema without a Spark job") {
    val resolver = new StreamingPathResolver(dir, Set("orders"))
    val (df, jobs) = graft.JobMeter.jobs(spark)(
      resolver.resolve(spark, TableReference(table = "orders")))
    assert(jobs == 0, s"resolving the stream started $jobs Spark job(s)")
    assert(df.isStreaming)
    assert(df.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
  }

  test("per-query RLAC property binds into the streaming plan") {
    val loose = drainToRows(
      "SELECT o_orderkey, cust_segment, o_totalprice FROM s_orders",
      Map("min_total" -> "100000"))
    val tight = drainToRows(
      "SELECT o_orderkey, cust_segment, o_totalprice FROM s_orders",
      Map("min_total" -> "400000"))
    assert(tight.size < loose.size, "a tighter threshold must govern away rows")
    assert(tight.forall(_._3 > 400000.0) && loose.forall(_._3 > 100000.0))
  }

  test("missing required RLAC property refuses the streaming deployment too") {
    intercept[GraftException] {
      GraftEngine.deploy(spark, Semantic.streamManifest,
        new StreamingPathResolver(dir, Set("orders")), Map.empty)
        .query("SELECT o_orderkey FROM s_orders")
    }
  }

  test("streaming aggregate over the model: complete-mode counts equal batch") {
    val sess = GraftEngine.deploy(spark, Semantic.streamManifest,
      new StreamingPathResolver(dir, Set("orders")), Map("min_total" -> "0"))
    val agg = sess.query(
      "SELECT cust_segment, count(*) AS n FROM s_orders GROUP BY cust_segment")
    assert(agg.isStreaming)
    val q = agg.writeStream.format("memory").queryName("sss_agg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sss_agg")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = GraftEngine.deploy(spark, Semantic.streamManifest,
        new PathResolver(dir), Map("min_total" -> "0"))
      .query("SELECT cust_segment, count(*) AS n FROM s_orders GROUP BY cust_segment")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch, s"$streamed vs $batch")
  }

  test("maxFilesPerTrigger bounds each micro-batch without changing the drained result") {
    // synthesize a MULTI-FILE table dir (the production layout) so a 1-file
    // cap forces multiple micro-batches through the same governed plan
    val tmp = java.nio.file.Files.createTempDirectory("graft_sss_cap_").toString
    spark.read.parquet(s"$dir/orders.parquet").repartition(3)
      .write.parquet(s"$tmp/orders.parquet")
    spark.read.parquet(s"$dir/customer.parquet")
      .write.parquet(s"$tmp/customer.parquet")
    val sess = GraftEngine.deploy(spark, Semantic.streamManifest,
      new StreamingPathResolver(tmp, Set("orders"), maxFilesPerTrigger = Some(1)),
      Map("min_total" -> "300000"))
    val stream = sess.query("SELECT o_orderkey FROM s_orders")
    val q = stream.writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    val n = spark.read.parquet(s"$tmp/out").count()
    val expect = GraftEngine.deploy(spark, Semantic.streamManifest,
        new PathResolver(dir), Map("min_total" -> "300000"))
      .query("SELECT o_orderkey FROM s_orders").count()
    graft.util.Fs.deleteTree(tmp)
    assert(n == expect, s"capped drain must still see every row: $n vs $expect")
    assert(batches > 1, s"1-file cap must yield multiple micro-batches, got $batches")
  }

  test("CLAC omission governs the streamed model's schema like batch") {
    val manifest = {
      val m = Semantic.streamManifest
      val orders = m.models.find(_.name == "s_orders").get
      val gated = orders.copy(columns = orders.columns.map { c =>
        if (c.name == "o_totalprice")
          c.copy(columnLevelAccessControl = Some(ColumnLevelAccessControl(
            "price_access", List(SessionProperty("clearance")),
            ClacOperator.Equals, "1")))
        else c
      })
      m.copy(models = m.models.map(mm => if (mm.name == "s_orders") gated else mm))
    }
    def schemaWith(props: Map[String, String]): Set[String] =
      GraftEngine.deploy(spark, manifest,
        new StreamingPathResolver(dir, Set("orders")),
        props + ("min_total" -> "300000"))
        .query("SELECT * FROM s_orders").schema.fieldNames.toSet
    // denied: the column is absent from the streamed model's schema entirely
    assert(!schemaWith(Map.empty).contains("o_totalprice"))
    // cleared: present again — same deploy machinery, streaming source
    assert(schemaWith(Map("clearance" -> "1")).contains("o_totalprice"))
  }

  test("source watermark flows through the model: bounded-state windowed aggregation") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sss_wm_").toString
    // 100 clicks, one per minute: ten 10-minute windows of exactly 10 events
    spark.range(100).select(
        col("id").alias("click_id"),
        (col("id") % 5).alias("user_id"),
        to_timestamp(lit("2026-01-01 00:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, id, 0)")).alias("ts"))
      .repartition(4).write.parquet(s"$tmp/clicks.parquet")
    val manifest = Manifest("graft", "amalgam", models = List(
      Model("s_clicks", tableReference = Some(TableReference(table = "clicks")),
        primaryKey = Some("click_id"),
        columns = List(Column("click_id", "bigint"), Column("user_id", "bigint"),
          Column("ts", "timestamp")))))
    val winSql =
      """SELECT window(ts, '10 minutes').start AS w, count(*) AS n
        |FROM s_clicks GROUP BY window(ts, '10 minutes')""".stripMargin
    val sess = GraftEngine.deploy(spark, manifest,
      new StreamingPathResolver(tmp, Set("clicks"), maxFilesPerTrigger = Some(1),
        watermarks = Map("clicks" -> ("ts", "5 minutes"))))
    val agg = sess.query(winSql)
    // the watermark declared at the SOURCE must survive model planning
    assert(agg.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      agg.queryExecution.analyzed.toString.take(1500))
    val q = agg.writeStream.format("memory").queryName("sss_wm")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // update-mode memory sink accumulates per-trigger updates; counts only
    // grow, so max-per-window is the final state
    val streamed = spark.table("sss_wm").groupBy("w").agg(max("n").alias("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val batch = GraftEngine.deploy(spark, manifest, new PathResolver(tmp))
      .query(winSql).collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    graft.util.Fs.deleteTree(tmp)
    assert(batch.size == 10 && batch.values.forall(_ == 10L), s"fixture law: $batch")
    assert(streamed == batch, s"windowed drain diverged: $streamed vs $batch")
  }

  test("append-mode windowed aggregation refuses WITHOUT the source watermark") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sss_nowm_").toString
    spark.range(10).select(col("id").alias("click_id"),
        to_timestamp(lit("2026-01-01 00:00:00")).alias("ts"))
      .write.parquet(s"$tmp/clicks.parquet")
    val manifest = Manifest("graft", "amalgam", models = List(
      Model("s_clicks", tableReference = Some(TableReference(table = "clicks")),
        primaryKey = Some("click_id"),
        columns = List(Column("click_id", "bigint"), Column("ts", "timestamp")))))
    val sess = GraftEngine.deploy(spark, manifest,
      new StreamingPathResolver(tmp, Set("clicks"))) // no watermark declared
    val agg = sess.query(
      "SELECT window(ts, '10 minutes').start AS w, count(*) AS n " +
        "FROM s_clicks GROUP BY window(ts, '10 minutes')")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      agg.writeStream.format("memory").queryName("sss_nowm")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    graft.util.Fs.deleteTree(tmp)
    assert(e.getMessage.toLowerCase.contains("watermark"), e.getMessage.take(300))
  }
}
