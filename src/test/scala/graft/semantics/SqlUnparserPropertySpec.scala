package graft.semantics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property sweep for the Spark-dialect unparser: queries GENERATED from a
  * small grammar (projections, arithmetic/string expressions, filters, joins,
  * aggregates, sorts, limits, distinct, unions over the tpch tables) must
  * round-trip — emitted text executed on a bare session returns exactly the
  * engine's rows and column names. Seeds are fixed so failures reproduce; the
  * fixed oracle corpora (SqlUnparser*Spec) pin known shapes, this spec guards
  * the combinatorial space between them.
  */
/** The generation grammar, shared with [[SqlUnparserPostgresSpec]]'s
  * dual-dialect generation sweep.
  */
object SqlUnparserPropertyGrammar {
  /** Seed count for every grammar consumer (spark round-trip, per-dialect
    * generation gates, the DuckDB-executed sweep). 100 seeds × 4 executed
    * dialects = 400 executed slots over the widened grammar.
    */
  val Seeds: Int = 100

  /** Generation gate shared by the per-dialect specs: every seed must either
    * render (text starts with SELECT) or refuse LOUDLY with
    * UnsupportedOperationException — the curated-dialect contract for
    * documented grammar gaps (ClickHouse's order-free groupArray cannot spell
    * ordered listagg). Any other failure fails the gate, and refusals above
    * 20% of seeds fail it too — gaps must stay gaps, not drown the sweep.
    */
  def generationGate(spark: org.apache.spark.sql.SparkSession,
      dialect: SqlUnparser.Dialect, sfDir: String): Unit = {
    Seq("orders", "customer", "nation").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val gen = new SqlUnparserPropertyGrammar
    var refused = 0
    for (seed <- 0 until Seeds) {
      val sql = gen.genQuery(seed)
      try {
        val df = spark.sql(sql)
        val optimized =
          spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
        val text = SqlUnparser.unparse(optimized, df.columns.toIndexedSeq, dialect)
        assert(text.startsWith("SELECT"), s"seed=$seed\n$sql")
        DialectLint.lint(dialect.name, s"seed=$seed", text)
      } catch {
        case _: UnsupportedOperationException => refused += 1
        case e: Exception =>
          throw new AssertionError(s"seed=$seed dialect=$dialect failed\n$sql", e)
      }
    }
    assert(refused <= Seeds / 5,
      s"$dialect refused $refused/$Seeds seeds — documented gaps should be rare")
  }
}

class SqlUnparserPropertyGrammar {
  /** One deterministic random query per seed. Productions cover the curated
    * dialects' full claimed surface: projections/arithmetic/strings, joins,
    * filters with IN/NOT IN and correlated EXISTS subqueries, aggregates
    * (sum/count/max/stddev + ordered listagg), GROUP BY + ROLLUP/GROUPING
    * SETS (lowered to Expand → rendered as a dialect-neutral UNION ALL),
    * windows, DISTINCT, UNION ALL / INTERSECT / EXCEPT (the optimizer
    * rewrites set ops to semi/anti joins), date machinery (extract,
    * date_trunc, typed date comparisons), sorts and limits.
    */
  def genQuery(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))

    val joined = rnd.nextBoolean()
    val from =
      if (joined)
        s"orders ${pick(Seq("JOIN", "LEFT JOIN"))} customer ON o_custkey = c_custkey"
      else "orders"
    val numCols = Seq("o_orderkey", "o_custkey") ++
      (if (joined) Seq("c_custkey", "c_acctbal") else Nil)
    val strCols = Seq("o_orderstatus", "o_orderpriority") ++
      (if (joined) Seq("c_mktsegment") else Nil)

    def numExpr(): String = pick(Seq(
      pick(numCols),
      s"${pick(numCols)} + ${rnd.nextInt(100)}",
      s"${pick(numCols)} * 2 - ${pick(numCols)}",
      s"abs(${pick(numCols)} - ${rnd.nextInt(50)})",
      s"coalesce(${pick(numCols)}, 0)",
      // date machinery: extract-style accessor over a typed date cast
      // (bigint result everywhere via the dialect's extract/accessor mapping)
      s"cast(year(cast(o_orderdate as date)) as bigint)"))
    def strExpr(): String = pick(Seq(
      pick(strCols),
      s"upper(${pick(strCols)})",
      s"substring(${pick(strCols)}, 1, ${1 + rnd.nextInt(3)})",
      s"concat(${pick(strCols)}, '_x')",
      // regex replace-all: the duckdb/postgres texts carry the explicit 'g'
      // and EXECUTE in the sweep; trino/redshift's global-by-default 3-arg
      // form would misread as first-match in DuckDB — classified explicitly
      s"regexp_replace(${pick(strCols)}, '[AEIOU]+', '.')",
      s"CASE WHEN ${pick(numCols)} % 2 = 0 THEN ${pick(strCols)} ELSE 'other' END"))
    def pred(): String = pick(Seq(
      s"${pick(numCols)} % ${2 + rnd.nextInt(5)} = ${rnd.nextInt(2)}",
      s"${pick(numCols)} > ${rnd.nextInt(1000)}",
      s"${pick(strCols)} LIKE '${('A' + rnd.nextInt(5)).toChar}%'",
      // Spark's backslash-escaped wildcard: engines without a default
      // backslash escape need the dialect-appended ESCAPE clause or the
      // pattern silently changes meaning. The concat guarantees every row
      // ends with a literal '_x', so the DuckDB-executed sweep DISCRIMINATES:
      // correct rendering matches all rows, a clause-less misreading zero
      raw"concat(${pick(strCols)}, '_x') LIKE '%\\_x'",
      // regex partial-match predicate: duckdb's regexp_matches executes;
      // postgres/redshift `~` (partial THERE, full-match in DuckDB) and
      // trino regexp_like are valid-for-engine, classified explicitly
      s"${pick(strCols)} RLIKE '^[A-P]'",
      s"${pick(strCols)} IN ('BUILDING', 'MACHINERY', 'O', 'F')",
      s"${pick(numCols)} IS NOT NULL",
      // decorrelates to a semi/anti join — SEMI/ANTI JOIN keywords on DuckDB,
      // correlated (NOT) EXISTS on Postgres/MySQL; both executed by the sweep
      s"o_custkey ${pick(Seq("IN", "NOT IN"))} " +
        s"(SELECT c_custkey FROM customer WHERE c_acctbal > ${rnd.nextInt(8000)})",
      // correlated EXISTS: decorrelates to the same semi join machinery but
      // enters the planner through the EXISTS path
      s"${pick(Seq("EXISTS", "NOT EXISTS"))} (SELECT 1 FROM customer " +
        s"WHERE c_custkey = o_custkey AND c_acctbal > ${rnd.nextInt(8000)})",
      // typed date comparison: DATE literal + cast travel through every
      // dialect's literal rendering
      s"cast(o_orderdate as date) >= date '199${6 + rnd.nextInt(2)}-0${1 + rnd.nextInt(9)}-01'"))

    val where = if (rnd.nextBoolean()) s" WHERE ${pred()}" +
      (if (rnd.nextBoolean()) s" AND ${pred()}" else "") else ""

    // 0: plain, 1: group-by, 2: distinct, 3: window, 4: rollup/grouping sets,
    // 5: ordered listagg, 6: date bucket group-by
    val agg = rnd.nextInt(7)
    val sql = agg match {
      case 1 =>
        val g = strExpr()
        // stddev_samp: shared spelling across all curated dialects (MySQL has
        // no corr/covar, so the grammar stays inside the common subset)
        s"SELECT $g AS grp, count(*) AS n, sum(${numExpr()}) AS s, " +
          s"max(${numExpr()}) AS mx, stddev_samp(${pick(numCols)}) AS sd " +
          s"FROM $from$where GROUP BY $g" +
          (if (rnd.nextBoolean()) " HAVING count(*) > 1" else "")
      case 2 =>
        s"SELECT DISTINCT ${strExpr()} AS a, ${numExpr()} % 7 AS b FROM $from$where"
      case 3 =>
        // half the seeds carry a user bigint cast on rn; the other half keep
        // Spark's NATIVE INT row_number — the dialects' automatic ranking
        // repair (rankResultCast: engines type it BIGINT) must make the
        // executed engines match Spark's int32 exactly
        val k = 1 + rnd.nextInt(4)
        val rnRaw = s"row_number() OVER (PARTITION BY ${pick(strCols)} " +
          "ORDER BY o_orderkey)"
        val rn = if (rnd.nextBoolean()) s"cast($rnRaw as bigint)" else rnRaw
        s"SELECT a, b, rn FROM (SELECT ${strExpr()} AS a, o_orderkey AS b, " +
          s"$rn AS rn FROM $from$where) w WHERE rn <= $k"
      case 4 =>
        // multi-set aggregation lowers to Expand; the unparser renders one
        // plain SELECT per grouping set UNION ALL'd — executable everywhere
        val g1 = pick(strCols)
        val form = pick(Seq(s"ROLLUP($g1)", s"GROUPING SETS (($g1), ())",
          s"CUBE($g1)"))
        s"SELECT $g1 AS grp, count(*) AS n, sum(${pick(numCols)}) AS s, " +
          s"cast(grouping($g1) as bigint) AS gid FROM $from$where GROUP BY $form"
      case 5 =>
        // ordered string aggregation: string_agg(x, d ORDER BY …) on
        // duckdb/postgres, LISTAGG WITHIN GROUP on trino/redshift (valid
        // there, not DuckDB-parseable — the sweep records those as
        // generated-but-not-duckdb-executable rather than silently passing)
        val g = pick(strCols)
        s"SELECT $g AS grp, " +
          s"listagg(${pick(strCols)}, ',') WITHIN GROUP (ORDER BY o_orderkey) AS l " +
          s"FROM $from$where GROUP BY $g"
      case 6 =>
        // date_trunc bucket: month-truncated date grouping, typed DATE output
        s"SELECT cast(date_trunc('month', cast(o_orderdate as date)) as date) AS mon, " +
          s"count(*) AS n FROM $from$where " +
          "GROUP BY cast(date_trunc('month', cast(o_orderdate as date)) as date)"
      case _ =>
        s"SELECT ${numExpr()} AS a, ${strExpr()} AS b, ${numExpr()} AS c FROM $from$where"
    }
    val withUnion =
      if (agg == 2 && rnd.nextBoolean())
        s"$sql ${pick(Seq("UNION ALL", "INTERSECT", "EXCEPT"))} $sql" else sql
    val ordered =
      if (rnd.nextBoolean()) {
        val cols = if (agg == 1) "grp, n, s, mx, sd"
          else if (agg == 2) "a, b"
          else if (agg == 3) "a, b, rn"
          else if (agg == 4) "grp, n, s, gid"
          else if (agg == 5) "grp, l"
          else if (agg == 6) "mon, n" else "a, b, c"
        s"$withUnion ORDER BY $cols" +
          (if (rnd.nextBoolean()) s" LIMIT ${5 + rnd.nextInt(50)}" else "")
      } else withUnion
    ordered
  }
}

class SqlUnparserPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def load(): Unit =
    Seq("orders", "customer", "nation").foreach { t =>
      spark.read.parquet(s"${TestSpark.sfDir}/$t.parquet").createOrReplaceTempView(t)
    }

  private val grammar = new SqlUnparserPropertyGrammar

  test("generated queries round-trip through the spark dialect (40 seeds)") {
    load()
    for (seed <- 0 until SqlUnparserPropertyGrammar.Seeds) {
      val sql = grammar.genQuery(seed)
      try {
        val df = spark.sql(sql)
        val qe = df.queryExecution
        val optimized = spark.sessionState.optimizer.execute(qe.analyzed)
        val text = SqlUnparser.unparse(optimized,
          qe.analyzed.output.map(_.name), SqlUnparser.SparkDialect)
        val replayed = spark.sql(text)
        assert(replayed.columns.toSeq == df.columns.toSeq, s"seed=$seed\n$sql\n$text")
        assert(replayed.collect().map(_.toString).sorted.toSeq ==
          df.collect().map(_.toString).sorted.toSeq, s"seed=$seed\n$sql\n$text")
      } catch {
        case e: AssertionError => throw e
        case e: Exception =>
          throw new AssertionError(s"seed=$seed failed\n$sql", e)
      }
    }
  }
}
