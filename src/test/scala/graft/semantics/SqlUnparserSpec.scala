package graft.semantics

import org.apache.spark.sql.types.FloatType
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, TestSpark}
import graft.queries.{Semantic, TpcH}

/** Unparse laws. The Spark dialect is verified by ROUND-TRIP EXECUTION: the
  * emitted text must run on a bare session (no deploy, no temp views — scans
  * are `parquet.`path``) and produce exactly the rows and column names of the
  * engine executing the original semantic SQL. The DuckDB dialect is pinned by
  * a golden exact-match against the static oracle string that the driver's
  * DuckDB gate executes for `m21_unparse_duckdb` — so the text DuckDB actually
  * runs is provably the generator's output, and the driver's hash-compare
  * closes the loop on a second engine.
  */
class SqlUnparserSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val session =
    GraftEngine.deployOnDir(spark, Semantic.manifest, TestSpark.sfDir)

  private def roundTrip(sql: String): Unit = {
    val engine = session.query(sql)
    val expected = engine.collect().map(_.toString).sorted.toSeq
    val text = session.transformSql(sql, "spark")
    val replayed = spark.sql(text)
    assert(replayed.columns.toSeq == engine.columns.toSeq, s"\n$text")
    assert(replayed.collect().map(_.toString).sorted.toSeq == expected, s"\n$text")
  }

  test("spark round-trip: expression column + filter + sort") {
    roundTrip("""SELECT o_orderkey, order_cust FROM m_orders
                |WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin)
  }

  test("spark round-trip: to-one calculated field (relationship LEFT JOIN)") {
    roundTrip("""SELECT o_orderkey, cust_segment FROM m_orders
                |WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin)
  }

  test("spark round-trip: to-many aggregated calc (pre-agg + join back)") {
    roundTrip("""SELECT c_custkey, cast(total_spent as double) AS ts, order_count
                |FROM m_customer ORDER BY c_custkey""".stripMargin)
  }

  test("spark round-trip: group-by aggregate with having") {
    roundTrip("""SELECT o_orderstatus, count(*) AS n,
                |  cast(sum(o_price_dec) as double) AS rev
                |FROM m_orders GROUP BY o_orderstatus HAVING count(*) > 5
                |ORDER BY o_orderstatus""".stripMargin)
  }

  test("spark round-trip: window function over model") {
    roundTrip("""SELECT o_orderkey,
                |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
                |FROM m_orders WHERE o_orderkey <= 300""".stripMargin)
  }

  test("spark round-trip: IN-subquery (decorrelates to a semi join)") {
    roundTrip("""SELECT o_orderkey FROM m_orders
                |WHERE o_custkey IN (SELECT c_custkey FROM m_customer WHERE c_acctbal > 5000)
                |ORDER BY o_orderkey""".stripMargin)
  }

  test("spark round-trip: UNION ALL + DISTINCT") {
    roundTrip("""SELECT DISTINCT o_orderstatus FROM (
                |  SELECT o_orderstatus FROM m_orders WHERE o_orderkey <= 100
                |  UNION ALL
                |  SELECT o_orderstatus FROM m_orders WHERE o_orderkey > 4000
                |) t ORDER BY o_orderstatus""".stripMargin)
  }

  test("spark round-trip: top-K (ORDER BY + LIMIT stay in one SELECT)") {
    roundTrip("""SELECT o_orderkey, o_totalprice FROM m_orders
                |ORDER BY o_totalprice DESC, o_orderkey LIMIT 7""".stripMargin)
  }

  test("duckdb golden: m21 text is exactly the driver's oracle string") {
    val text = session.transformSql(Semantic.m21Sql, "duckdb")
    println(s"[unparse-duckdb]\n$text")
    assert(text == Semantic.m21DuckOracle,
      s"generated:\n$text\noracle:\n${Semantic.m21DuckOracle}")
  }

  test("duckdb golden: m22 window+semi-join text is exactly the driver's oracle string") {
    val text = session.transformSql(Semantic.m22Sql, "duckdb")
    println(s"[unparse-duckdb-m22]\n$text")
    assert(text == Semantic.m22DuckOracle,
      s"generated:\n$text\noracle:\n${Semantic.m22DuckOracle}")
  }

  test("duckdb golden: m23 scalar-subquery + window-frame text is exactly the oracle") {
    val text = session.transformSql(Semantic.m23Sql, "duckdb")
    assert(text == Semantic.m23DuckOracle,
      s"generated:\n$text\noracle:\n${Semantic.m23DuckOracle}")
  }

  test("spark round-trip: uncorrelated scalar subquery + explicit ROWS frame") {
    roundTrip(Semantic.m23Sql)
  }

  test("duckdb golden: m24 datetime text is exactly the oracle") {
    val text = session.transformSql(Semantic.m24Sql, "duckdb")
    assert(text == Semantic.m24DuckOracle,
      s"generated:\n$text\noracle:\n${Semantic.m24DuckOracle}")
  }

  test("spark round-trip: date_trunc + extract + timestamp-literal filter") {
    roundTrip(Semantic.m24Sql)
  }

  test("duckdb golden: m25 zorder_key expands to shift/mask arithmetic exactly") {
    val text = session.transformSql(Semantic.m25Sql, "duckdb")
    assert(text == Semantic.m25DuckOracle,
      s"generated:\n$text\noracle:\n${Semantic.m25DuckOracle}")
  }

  test("spark round-trip: the zorder_key kernel re-parses through its SQL rendering") {
    roundTrip(Semantic.m25Sql)
  }

  test("duckdb dialect: bare logical table names, no backticks, double-quoted idents") {
    val text = session.transformSql(
      "SELECT o_orderkey FROM m_orders WHERE o_orderkey <= 10", "duckdb")
    assert(text.contains("FROM \"orders\""), text)
    assert(!text.contains("`"), text)
  }

  test("duckdb dialect: explode of a folded literal array renders as inline VALUES") {
    // Catalyst constant-folds array(1, 2) to a literal; the LATERAL VIEW
    // becomes the engine-neutral inline-table shape every dialect can run
    val text = session.transformSql(
      "SELECT o_orderkey, x FROM m_orders LATERAL VIEW explode(array(1, 2)) g AS x",
      "duckdb")
    assert(text.contains("VALUES"), text)
    assert(!text.contains("LATERAL VIEW"), text)
  }

  test("correlated date spine: each engine gets its own LATERAL idiom") {
    // DuckDB's FROM-positioned generate_series rejects lateral column
    // parameters — the correlated spine must ride the scalar
    // unnest(generate_series(..)) form instead; Postgres's set-returning
    // generate_series IS implicitly lateral in FROM; Trino correlates
    // through CROSS JOIN UNNEST(sequence(..)). All three carry the
    // CAST-to-DATE repair (their series yield timestamps, Spark dates).
    val duck = session.transformSql(Semantic.m27Sql, "duckdb")
    assert(duck.contains("unnest(generate_series("), duck)
    assert(!duck.contains("CROSS JOIN generate_series"), duck)
    val pg = session.transformSql(Semantic.m27Sql, "postgres")
    assert(pg.contains("CROSS JOIN generate_series("), pg)
    val trino = session.transformSql(Semantic.m27Sql, "trino")
    assert(trino.contains("CROSS JOIN UNNEST(sequence("), trino)
    for (t <- Seq(duck, pg, trino)) assert(t.contains(" AS DATE)"), t)
  }

  test("uncorrelated non-folded series keeps the FROM-positioned table function") {
    // a scalar subquery blocks constant folding without referencing the
    // host row: no lateral parameters, so DuckDB's FROM-positioned
    // generate_series table function stays legal
    val duck = session.transformSql(
      "SELECT x FROM m_orders " +
        "LATERAL VIEW explode(sequence(1, (SELECT count(*) FROM m_region))) g AS x " +
        "WHERE o_orderkey = 1", "duckdb")
    assert(duck.contains("CROSS JOIN generate_series("), duck)
  }

  test("spark round-trip: the correlated date spine replays through LATERAL VIEW") {
    roundTrip(Semantic.m27Sql)
  }

  test("BigQuery renders the correlated date spine via GENERATE_DATE_ARRAY") {
    // GoogleSQL's element-typed series builder + unquoted interval literal;
    // correlated UNNEST is native there
    val bq = session.transformSql(Semantic.m27Sql, "bigquery")
    assert(bq.contains("CROSS JOIN UNNEST(GENERATE_DATE_ARRAY("), bq)
    assert(bq.contains("INTERVAL 1 DAY"), bq)
  }

  test("explode of a non-series array: BigQuery UNNESTs, ClickHouse arrayJoins") {
    // the two SELECT-positioned/FROM-positioned hooks that no sequence-based
    // corpus reaches (both dialects refuse interval literals): a split()
    // array exercises them directly
    val src = "SELECT o_orderkey, part FROM m_orders " +
      "LATERAL VIEW explode(split(o_orderstatus, '-')) g AS part " +
      "WHERE o_orderkey <= 10"
    val bq = session.transformSql(src, "bigquery")
    assert(bq.contains("CROSS JOIN UNNEST("), bq)
    assert(!bq.contains("LATERAL VIEW"), bq)
    val ch = session.transformSql(src, "clickhouse")
    assert(ch.contains("arrayJoin("), ch)
    assert(!ch.contains("LATERAL VIEW"), ch)
  }

  test("explode over a column-pruned child keeps the child's row multiplicity") {
    // projecting ONLY the exploded column prunes m_region to Project(Nil, scan);
    // the render must still CROSS JOIN the 5-row region scan (5 × 2 rows), not
    // collapse it to a one-row relation (2 rows)
    val duck = session.transformSql(
      "SELECT x FROM m_region LATERAL VIEW explode(array(1, 2)) g AS x", "duckdb")
    assert(duck.contains("region"), duck)
    assert(duck.contains("CROSS JOIN"), duck)
  }

  test("duckdb dialect: a generator with no engine idiom still fails loudly") {
    // posexplode has no single-column rendering; the refusal must stay LOUD
    val e = intercept[UnsupportedOperationException] {
      session.transformSql(
        "SELECT o_orderkey, p, x FROM m_orders " +
          "LATERAL VIEW posexplode(array(1, 2)) g AS p, x",
        "duckdb")
    }
    assert(e.getMessage.contains("LATERAL VIEW"), e.getMessage)
  }

  test("duckdb dialect: unsupported expression fails loudly, not silently") {
    val e = intercept[UnsupportedOperationException] {
      session.transformSql(
        "SELECT xxhash64(o_orderstatus) AS h FROM m_orders", "duckdb")
    }
    assert(e.getMessage.contains("unsupported expression"), e.getMessage)
  }

  test("every curated dialect refuses under its own name") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    for (d <- SqlUnparser.dialects if d != SqlUnparser.SparkDialect) {
      val e = intercept[UnsupportedOperationException] {
        d.literal(Literal(Array[Byte](1), BinaryType))
      }
      assert(e.getMessage.startsWith(s"${d.name} dialect:"), e.getMessage)
    }
  }

  test("unknown dialect is rejected; 'plan' falls back to the catalyst dump") {
    intercept[IllegalArgumentException] {
      session.transformSql("SELECT 1", "oracle9i")
    }
    // rejected before planning: no plan-cache lookup, no cached plan
    val before = session.planCacheStats
    intercept[IllegalArgumentException] {
      session.transformSql(s"SELECT o_orderkey FROM m_orders -- ${System.nanoTime()}", "oracle9i")
    }
    assert(session.planCacheStats == before)
    assert(session.transformSql("SELECT o_orderkey FROM m_orders LIMIT 1", "plan")
      .contains("GlobalLimit"))
  }

  private lazy val tpch = GraftEngine.deployOnDir(spark, TpcH.manifest, TestSpark.sfDir)

  test("md5 over text renders on DuckDB and MySQL, without Spark's BINARY cast") {
    for (d <- Seq("duckdb", "mysql")) {
      val text = tpch.transformSql("SELECT md5(o_orderstatus) AS h FROM orders", d)
      assert(text.contains("md5(") && !text.contains("CAST("), s"$d:\n$text")
    }
  }

  test("a FLOAT literal renders as a cast decimal in every non-Spark dialect") {
    for (d <- SqlUnparser.dialects if d != SqlUnparser.SparkDialect) {
      val text = tpch.transformSql("SELECT cast(1.5 as float) AS f FROM orders", d.name)
      assert(text.contains(s"CAST(1.5 AS ${d.typeName(FloatType)})"), s"${d.name}:\n$text")
    }
  }

  test("lag, lead and ntile render in all 11 dialects, or refuse where the engine lacks the form") {
    def render(d: String, fn: String): Either[String, String] =
      try Right(tpch.transformSql(s"SELECT $fn OVER (ORDER BY o_orderkey) AS w FROM orders", d))
      catch { case e: UnsupportedOperationException => Left(e.getMessage) }
    def renders(d: String, fn: String, pattern: String): Unit = render(d, fn) match {
      case Right(text) => assert(pattern.r.findFirstIn(text).isDefined, s"$d $fn:\n$text")
      case Left(msg) => fail(s"$d $fn refused: $msg")
    }
    def refuses(d: String, fn: String, reason: String): Unit = render(d, fn) match {
      case Left(msg) => assert(msg.startsWith(s"$d dialect: ") && msg.contains(reason), msg)
      case Right(text) => fail(s"$d $fn rendered:\n$text")
    }
    for (d <- SqlUnparser.dialects.map(_.name)) {
      renders(d, "ntile(4)", """ntile\(4\) OVER""")
      if (d == "clickhouse") {
        refuses(d, "lag(o_orderkey)", "lagInFrame")
        refuses(d, "lead(o_orderkey, 2)", "leadInFrame")
      } else {
        // a NULL default is left out
        renders(d, "lag(o_orderkey)", """lag\([^(),]+, 1\) OVER""")
        renders(d, "lead(o_orderkey, 2)", """lead\([^(),]+, 2\) OVER""")
        if (d == "redshift") refuses(d, "lag(o_orderkey, 1, 0)", "LAG takes no default")
        else renders(d, "lag(o_orderkey, 1, 0)", """lag\([^(),]+, 1, .+\) OVER""")
        if (d == "spark") renders(d, "lag(o_orderkey) IGNORE NULLS", """\) IGNORE NULLS OVER""")
        else refuses(d, "lag(o_orderkey) IGNORE NULLS", "IGNORE NULLS")
      }
    }
  }
}
