package graft.planner

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, TestSpark}
import graft.mdl._

/** Source-format coverage (SURVEY §2.B scans row): the reference reads parquet, CSV,
  * and JSON file sources through DuckDB/ListingTable; here the same MDL deploys over
  * each format via PathResolver's format switch, proving models are source-agnostic.
  */
class SourceFormatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def manifest = Manifest(
    catalog = "g", schema = "s",
    models = List(Model(
      name = "m_nation",
      tableReference = Some(TableReference(table = "nation")),
      primaryKey = Some("n_nationkey"),
      columns = List(
        Column("n_nationkey", "int"),
        Column("n_name", "varchar"),
        Column("n_regionkey", "int"),
        Column("key_name", "varchar",
          expression = Some("concat(cast(n_nationkey as string), ':', n_name)"))))))

  private def expected: Set[(Int, String)] = {
    val df = spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
    df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
  }

  test("the same model deploys over csv and json sources") {
    val src = spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
    val tmp = Files.createTempDirectory("graft_src_").toString
    src.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$tmp/csv/nation.csv.dir")
    src.coalesce(1).write.mode(SaveMode.Overwrite).json(s"$tmp/json/nation.json.dir")
    // PathResolver expects <dir>/<table>.<ext>; move the part file into place
    for ((fmt, ext) <- Seq("csv" -> "csv", "json" -> "json")) {
      val dir = new java.io.File(s"$tmp/$fmt/nation.$ext.dir")
      val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
      val dest = new java.io.File(s"$tmp/$fmt/nation.$ext")
      Files.move(part.toPath, dest.toPath)
    }

    for (fmt <- Seq("csv", "json")) {
      val session = GraftEngine.deploy(spark, manifest, new PathResolver(s"$tmp/$fmt", fmt))
      val rows = session.query(
        "SELECT n_nationkey, n_name, key_name FROM m_nation ORDER BY n_nationkey").collect()
      assert(rows.map(r => (r.getInt(0), r.getString(1))).toSet == expected, s"format $fmt")
      assert(rows.head.getString(2) == s"${rows.head.getInt(0)}:${rows.head.getString(1)}")
    }
  }

  test("a refSql model deploys over a file: url (physical names listed through Hadoop)") {
    val dir = new java.io.File(TestSpark.sfDir).getAbsolutePath
    val resolver = new PathResolver("file://" + dir)
    assert(resolver.physicalNames.contains("nation"))
    val m = Manifest(catalog = "g", schema = "s", models = List(Model(
      name = "m_europe",
      refSql = Some("SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 3"),
      columns = List(Column("n_nationkey", "int"), Column("n_name", "varchar")))))
    val sess = GraftEngine.deploy(spark, m, resolver)
    val want = spark.read.parquet(s"$dir/nation.parquet").where("n_regionkey = 3")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(want.nonEmpty)
    assert(sess.query("SELECT n_nationkey, n_name FROM m_europe").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet == want)
  }

  test("csv scans take the DECLARED schema — no inference pass over the file") {
    val src = spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
    val tmp = Files.createTempDirectory("graft_csv_sch_").toString
    src.coalesce(1).write.option("header", "true").csv(s"$tmp/nation.csv.dir")
    val part = new java.io.File(s"$tmp/nation.csv.dir").listFiles()
      .filter(_.getName.startsWith("part-")).head
    Files.move(part.toPath, new java.io.File(s"$tmp/nation.csv").toPath)

    val resolver = new PathResolver(tmp, "csv")
    // declare ONLY n_name: the declared column takes its MDL type, and the clearly
    // numeric n_nationkey stays STRING — proof the reader used the declaration, not
    // an inference pass (inference would type it int).
    val df = resolver.resolve(spark, TableReference(table = "nation"),
      Seq("n_name" -> org.apache.spark.sql.types.StringType))
    assert(df.schema("n_name").dataType == org.apache.spark.sql.types.StringType)
    assert(df.schema("n_nationkey").dataType == org.apache.spark.sql.types.StringType)
    // declared int flows through to the scan schema
    val df2 = resolver.resolve(spark, TableReference(table = "nation"),
      Seq("n_nationkey" -> org.apache.spark.sql.types.IntegerType))
    assert(df2.schema("n_nationkey").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df2.select("n_nationkey").collect().map(_.getInt(0)).toSet ==
      expected.map(_._1))
  }

  test("jdbc predicates partitioning: one remote WHERE clause per partition") {
    val tmp = Files.createTempDirectory("graft_jdbc_pred_").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
      .selectExpr("n_nationkey AS N_NATIONKEY", "n_name AS N_NAME")
      .write.mode("overwrite").jdbc(url, "NATION", new java.util.Properties)
    val resolver = new JdbcResolver(url,
      predicates = Map("NATION" -> Seq("N_NATIONKEY < 12", "N_NATIONKEY >= 12")))
    val df = resolver.resolve(spark, TableReference(table = "NATION"))
    assert(df.rdd.getNumPartitions == 2, "one partition per predicate")
    assert(df.count() == 25, "predicates must tile the table exactly")
  }

  test("jdbc range partitioning auto-derives bounds from a min/max probe") {
    val tmp = Files.createTempDirectory("graft_jdbc_auto_").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
      .selectExpr("n_nationkey AS N_NATIONKEY", "n_name AS N_NAME")
      .write.mode("overwrite").jdbc(url, "NATION", new java.util.Properties)
    val resolver = new JdbcResolver(url,
      partitioning = Map("NATION" -> JdbcPartitioning("N_NATIONKEY", numPartitions = 4)))
    val df = resolver.resolve(spark, TableReference(table = "NATION"))
    assert(df.rdd.getNumPartitions == 4, "derived bounds must still 4-way split")
    assert(df.count() == 25)
    // bounds came from the real key range (0..24), so the split is a genuine
    // spread — no stride swallows the whole table
    val sizes = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.max < 25 && sizes.count(_ > 0) >= 2, sizes.mkString(","))
    // an explicitly bounded spec still honors its declared range
    val explicit = new JdbcResolver(url,
      partitioning = Map("NATION" -> JdbcPartitioning("N_NATIONKEY", 0L, 24L, 4)))
      .resolve(spark, TableReference(table = "NATION"))
    assert(explicit.rdd.getNumPartitions == 4 && explicit.count() == 25)
  }

  test("cloud connection info configures bucket-scoped S3A keys, never global ones") {
    val conn = CloudConnection(
      accessKey = Some("AKTEST"), secretKey = Some("SKTEST"),
      endpoint = Some("http://minio.internal:9000"), pathStyleAccess = true)
    conn.configure(spark, "s3a://training-corpus/docs")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.bucket.training-corpus.access.key") == "AKTEST")
    assert(hc.get("fs.s3a.bucket.training-corpus.secret.key") == "SKTEST")
    assert(hc.get("fs.s3a.bucket.training-corpus.endpoint") == "http://minio.internal:9000")
    assert(hc.get("fs.s3a.bucket.training-corpus.path.style.access") == "true")
    // a second deployment against another bucket must not clobber the first
    CloudConnection(accessKey = Some("OTHER")).configure(spark, "s3a://other-bucket/x")
    assert(hc.get("fs.s3a.bucket.training-corpus.access.key") == "AKTEST")
    assert(hc.get("fs.s3a.bucket.other-bucket.access.key") == "OTHER")
    // global credentials stay unset — per-deployment scoping is the contract
    assert(hc.get("fs.s3a.access.key") == null)
  }
}
