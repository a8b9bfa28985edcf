package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The relational operator surface (SURVEY.md §2.B): the reference plans full SQL
  * (DataFusion grammar) over models; here each operator class is exercised as a Spark
  * SQL query over the test tables, with a DuckDB-equivalent oracle.
  *
  * Determinism across engines: doubles are never accumulated directly — money columns
  * are cast to exact decimals, aggregated exactly, then cast to double (IEEE-identical
  * in Spark and DuckDB); every query is fully ordered or orderable by the driver.
  */
object Relational {

  def load(s: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach { t =>
      val df = s.read.parquet(s"$dir/$t.parquet")
      val normalized = if (t == "events") normalizeEventTs(df) else df
      normalized.createOrReplaceTempView(t)
    }

  /** `events.parquet` has shipped in two `ts` representations across fixture
    * generations: raw INT64 epoch NANOS (LongType under
    * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (TIMESTAMP_NTZ). Probe the loaded schema and
    * normalize both to the ns-long contract every event query — and its DuckDB
    * oracle, which sees a µs timestamp either way — is written against. The NTZ
    * arm is session-timezone-free: `timestampdiff` measures the stored wall
    * clock against the epoch directly, matching DuckDB's `epoch_us(ts)` on the
    * same naive column.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw // legacy fixture: already epoch ns
      case TimestampNTZType => raw.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case TimestampType => raw.withColumn("ts", expr("unix_micros(ts) * 1000"))
      case _ => raw
    }
  }

  /** One embedded Derby database per JVM for the JDBC round-trip query. Derby's
    * system properties only take effect on the first boot, and every `create=true`
    * URL leaves a database plus log handles open for the JVM's lifetime — so boot
    * exactly once and let re-runs (Bench runs each query ≥3 times) overwrite the
    * table inside the same instance.
    */
  private lazy val derbyUrl: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jdbc_").toString
    System.setProperty("derby.system.home", tmp)
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    s"jdbc:derby:$tmp/db;create=true"
  }

  private def q(tables: Seq[String], sparkSql: String, oracle: String)
      : ((SparkSession, String) => DataFrame, String) =
    ((s: SparkSession, dir: String) => { load(s, dir, tables: _*); s.sql(sparkSql) }, oracle)

  /** Same text runs on Spark and DuckDB. */
  private def common(tables: Seq[String], sql: String) = q(tables, sql, sql)

  // money → exact decimal
  private def dec(c: String) = s"cast($c as decimal(18,2))"

  /** The lineitem columns `q28_profile` profiles, each with whether it is numeric. */
  val q28Columns: Seq[(String, Boolean)] = Seq(
    "l_quantity" -> true, "l_extendedprice" -> true, "l_orderkey" -> true,
    "l_returnflag" -> false)

  val defs: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(

    // --- aggregation: TPC-H Q1 shape (group-by + multi-agg + filter) ---
    "q1_agg" -> common(
      Seq("lineitem"),
      s"""SELECT l_returnflag, l_linestatus,
         |  cast(sum(${dec("l_quantity")}) as double) AS sum_qty,
         |  cast(sum(${dec("l_extendedprice")}) as double) AS sum_base_price,
         |  cast(sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")})) as double) AS sum_disc_price,
         |  cast(sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}) * (1 + ${dec("l_tax")})) as double) AS sum_charge,
         |  cast(sum(${dec("l_quantity")}) as double) / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE cast(l_shipdate as date) <= date '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // --- multi-way join + agg: TPC-H Q5 shape ---
    "q2_join_multi" -> common(
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
      s"""SELECT n_name,
         |  cast(sum(${dec("l_extendedprice")} * (1 - ${dec("l_discount")})) as double) AS revenue,
         |  count(*) AS nrows
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE cast(o_orderdate as date) >= date '1996-01-01'
         |  AND cast(o_orderdate as date) < date '1998-01-01'
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin),

    // --- sort + limit (top-K → TakeOrderedAndProject) ---
    "q3_topk" -> common(
      Seq("orders"),
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin),

    // --- window functions (row_number/rank/dense_rank/lag/lead/running sum) ---
    "q4_window" -> common(
      Seq("orders"),
      s"""SELECT * FROM (
         |  SELECT o_custkey, o_orderkey,
         |    cast(row_number() OVER w as int) AS rn,
         |    cast(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) as int) AS rnk,
         |    cast(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) as int) AS drnk,
         |    lag(o_orderkey, 1) OVER w AS prev_ord,
         |    lead(o_orderkey, 1) OVER w AS next_ord,
         |    cast(sum(${dec("o_totalprice")}) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS run_total,
         |    cast(ntile(3) OVER w as int) AS tile
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         |) t WHERE rn <= 3
         |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // --- IN subquery ---
    "q5_subq_in" -> common(
      Seq("customer", "orders"),
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    // --- correlated EXISTS / NOT EXISTS ---
    "q6_exists" -> common(
      Seq("customer", "orders"),
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    // --- set operations ---
    "q7_setops" -> common(
      Seq("customer", "orders", "supplier"),
      """SELECT k FROM (
        |  SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
        |  UNION
        |  SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000
        |) u
        |INTERSECT
        |SELECT c_nationkey AS k FROM customer
        |EXCEPT
        |SELECT c_nationkey AS k FROM customer WHERE c_nationkey = 0
        |ORDER BY k""".stripMargin),

    // --- unnest / table function (explode + sequence) ---
    "q8_unnest" -> q(
      Seq("nation"),
      """SELECT n_nationkey, cast(x as bigint) AS x
        |FROM nation
        |LATERAL VIEW explode(sequence(1, n_nationkey % 3 + 1)) t AS x
        |ORDER BY n_nationkey, x""".stripMargin,
      """SELECT n_nationkey, cast(x as bigint) AS x
        |FROM nation, unnest(generate_series(1, n_nationkey % 3 + 1)) t(x)
        |ORDER BY n_nationkey, x""".stripMargin),

    // --- ROLLUP + grouping() ---
    "q9_rollup" -> common(
      Seq("lineitem"),
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  count(*) AS cnt,
         |  cast(sum(${dec("l_quantity")}) as double) AS qty,
         |  cast(grouping(l_returnflag) as int) AS g_rf
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin),

    // --- distinct aggregates ---
    "q10_distinct_agg" -> common(
      Seq("lineitem"),
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(DISTINCT l_orderkey) AS n_ord
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // --- CASE / coalesce / nullif / greatest / least ---
    "q11_case" -> common(
      Seq("orders"),
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS bucket,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
        |  greatest(o_orderkey, o_custkey) AS g,
        |  least(o_orderkey, o_custkey) AS l
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),

    // --- string functions ---
    "q12_string" -> q(
      Seq("part"),
      """SELECT p_partkey,
        |  lower(p_name) AS lo, upper(p_brand) AS up,
        |  substr(p_name, 1, 5) AS sub,
        |  length(p_name) AS len,
        |  replace(p_type, ' ', '_') AS repl,
        |  concat_ws('|', p_brand, p_type) AS cw,
        |  lpad(cast(p_size as string), 4, '0') AS pad,
        |  split_part(p_type, ' ', 1) AS sp,
        |  reverse(p_brand) AS rev,
        |  trim(p_name) AS tr,
        |  ascii(p_brand) AS asc_c
        |FROM part
        |WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey,
        |  lower(p_name) AS lo, upper(p_brand) AS up,
        |  substr(p_name, 1, 5) AS sub,
        |  cast(length(p_name) as int) AS len,
        |  replace(p_type, ' ', '_') AS repl,
        |  concat_ws('|', p_brand, p_type) AS cw,
        |  lpad(cast(p_size as varchar), 4, '0') AS pad,
        |  split_part(p_type, ' ', 1) AS sp,
        |  reverse(p_brand) AS rev,
        |  trim(p_name) AS tr,
        |  ascii(p_brand) AS asc_c
        |FROM part
        |WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin),

    // --- datetime functions ---
    "q13_datetime" -> q(
      Seq("orders"),
      """SELECT o_orderkey,
        |  year(cast(o_orderdate as date)) AS y,
        |  month(cast(o_orderdate as date)) AS m,
        |  day(cast(o_orderdate as date)) AS d,
        |  cast(date_trunc('month', cast(o_orderdate as date)) as date) AS mon,
        |  cast(date_add(cast(o_orderdate as date), 30) as date) AS plus30,
        |  datediff(date '2000-01-01', cast(o_orderdate as date)) AS days_to_2k,
        |  cast(last_day(cast(o_orderdate as date)) as date) AS eom,
        |  date_format(cast(o_orderdate as timestamp), 'yyyy-MM-dd') AS fmt
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |  cast(year(cast(o_orderdate as date)) as int) AS y,
        |  cast(month(cast(o_orderdate as date)) as int) AS m,
        |  cast(day(cast(o_orderdate as date)) as int) AS d,
        |  cast(date_trunc('month', cast(o_orderdate as date)) as date) AS mon,
        |  cast(cast(o_orderdate as date) + 30 as date) AS plus30,
        |  cast(date '2000-01-01' - cast(o_orderdate as date) as int) AS days_to_2k,
        |  cast(last_day(cast(o_orderdate as date)) as date) AS eom,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),

    // --- left semi / anti join ---
    "q14_semi_anti" -> q(
      Seq("customer", "orders"),
      """SELECT c_custkey FROM customer LEFT SEMI JOIN orders ON c_custkey = o_custkey
        |UNION ALL
        |SELECT -c_custkey FROM customer LEFT ANTI JOIN orders ON c_custkey = o_custkey
        |ORDER BY 1""".stripMargin,
      """SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT -c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1""".stripMargin),

    // --- CTE + HAVING ---
    "q15_cte_having" -> common(
      Seq("orders", "customer"),
      s"""WITH cust_orders AS (
         |  SELECT o_custkey, count(*) AS n, sum(${dec("o_totalprice")}) AS tot
         |  FROM orders GROUP BY o_custkey HAVING count(*) >= 10
         |)
         |SELECT c.c_mktsegment, count(*) AS n_cust, cast(sum(co.tot) as double) AS seg_total
         |FROM cust_orders co JOIN customer c ON co.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment
         |ORDER BY c.c_mktsegment""".stripMargin),

    // --- scalar subqueries (uncorrelated + correlated) ---
    "q16_scalar_subq" -> common(
      Seq("customer", "orders"),
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT max(o_orderkey) FROM orders) AS max_ord
        |FROM customer c
        |WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin),

    // --- math functions (exact ops + rounded transcendentals over a small table) ---
    "q17_math" -> common(
      Seq("nation"),
      """SELECT n_nationkey,
        |  abs(n_nationkey - 12) AS a,
        |  n_nationkey % 5 AS mo,
        |  cast(floor(sqrt(cast(n_nationkey as double) * 100)) as bigint) AS fsq,
        |  cast(ceil(cast(n_nationkey as double) / 3) as bigint) AS ce,
        |  round(ln(cast(n_nationkey + 1 as double)), 4) AS lnv,
        |  round(exp(cast(n_nationkey as double) / 10), 4) AS expv,
        |  round(power(cast(n_nationkey as double), 1.5), 4) AS pw,
        |  cast(sign(n_nationkey - 12) as int) AS sg
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    // --- array construction / lambdas / join-to-string ---
    "q18_array" -> q(
      Seq("nation"),
      """SELECT n_regionkey,
        |  array_join(array_sort(collect_list(n_name)), ',') AS names,
        |  cast(size(collect_list(n_name)) as bigint) AS n,
        |  array_join(transform(array_sort(collect_list(n_nationkey)), x -> cast(x * 2 as string)), ',') AS doubled
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names,
        |  count(*) AS n,
        |  list_aggregate(list_transform(list_sort(list(n_nationkey)), x -> cast(x * 2 as varchar)), 'string_agg', ',') AS doubled
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin),

    // --- NULL ordering (reference forces NULLS LAST, context.rs:56-59) ---
    "q19_null_order" -> common(
      Seq("orders"),
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st
        |FROM orders
        |WHERE o_orderkey <= 500
        |ORDER BY st ASC NULLS LAST, o_orderkey""".stripMargin),

    // --- regexp (DuckDB regexp_replace needs the 'g' flag for global) ---
    "q20_regexp" -> q(
      Seq("part"),
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '') AS novowel,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS firstword,
        |  length(p_name) - length(replace(p_name, 'a', '')) AS n_a
        |FROM part
        |WHERE p_partkey <= 300
        |ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS firstword,
        |  cast(length(p_name) - length(replace(p_name, 'a', '')) as int) AS n_a
        |FROM part
        |WHERE p_partkey <= 300
        |ORDER BY p_partkey""".stripMargin),

    // --- manual variance via exact decimal sums (deterministic across engines) ---
    "q21_stats" -> common(
      Seq("lineitem"),
      s"""SELECT l_returnflag,
         |  count(*) AS n,
         |  cast(sum(${dec("l_quantity")}) as double) / count(*) AS mean_qty,
         |  (cast(sum(${dec("l_quantity")} * ${dec("l_quantity")}) as double)
         |    - cast(sum(${dec("l_quantity")}) as double) * cast(sum(${dec("l_quantity")}) as double) / count(*)
         |  ) / count(*) AS var_pop_qty
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin),

    // --- join variety: full outer + left join with nulls ---
    "q22_outer_join" -> common(
      Seq("nation", "customer"),
      """SELECT n.n_nationkey, n.n_name, cnt.n_cust
        |FROM nation n
        |LEFT JOIN (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer WHERE c_acctbal > 9500 GROUP BY c_nationkey
        |) cnt ON n.n_nationkey = cnt.c_nationkey
        |ORDER BY n.n_nationkey""".stripMargin),

    // --- GROUPING SETS + CUBE + grouping_id (the grammar the reference's grouping()
    // UDAF registration implies, SURVEY §2.B aggregations row) ---
    "q23_grouping_sets" -> common(
      Seq("lineitem"),
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         |  count(*) AS cnt,
         |  cast(sum(${dec("l_quantity")}) as double) AS qty,
         |  cast(grouping(l_returnflag) as int) AS g_rf,
         |  cast(grouping(l_linestatus) as int) AS g_ls
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls, g_rf, g_ls""".stripMargin),

    "q24_cube" -> common(
      Seq("orders"),
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pr,
         |  count(*) AS cnt,
         |  cast(sum(${dec("o_totalprice")}) as double) AS total
         |FROM orders
         |GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY st, pr""".stripMargin),

    // CSV source scan through the semantic layer: the parquet table round-trips
    // through a CSV directory and deploys via PathResolver(format=csv); the oracle
    // reads the ORIGINAL parquet — so header/inference/typing must all agree.
    "q25_csv_scan" -> (((s: SparkSession, dir: String) => {
      import graft.mdl._
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv_").toString
      s.read.parquet(s"$dir/nation.parquet")
        .coalesce(1).write.option("header", "true").mode("overwrite")
        .csv(s"$tmp/nation.csv")
      val manifest = Manifest(
        catalog = "g", schema = "csv",
        models = List(Model(
          "csv_nation", tableReference = Some(TableReference(table = "nation")),
          primaryKey = Some("n_nationkey"),
          columns = List(
            Column("n_nationkey", "int"), Column("n_name", "varchar"),
            Column("n_regionkey", "int")))))
      graft.GraftEngine
        .deploy(s, manifest, new graft.planner.PathResolver(tmp, "csv"))
        .query("SELECT n_nationkey, n_name, n_regionkey FROM csv_nation ORDER BY n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""")),

    // JSON-lines source scan, same round-trip shape; declared MDL types drive the
    // cast (JSON infers longs — the model says int, and typing must still match).
    "q26_json_scan" -> (((s: SparkSession, dir: String) => {
      import graft.mdl._
      val tmp = java.nio.file.Files.createTempDirectory("graft_json_").toString
      s.read.parquet(s"$dir/region.parquet")
        .coalesce(1).write.mode("overwrite").json(s"$tmp/region.json")
      val manifest = Manifest(
        catalog = "g", schema = "json",
        models = List(Model(
          "json_region", tableReference = Some(TableReference(table = "region")),
          primaryKey = Some("r_regionkey"),
          columns = List(
            Column("r_regionkey", "int",
              expression = Some("cast(r_regionkey as int)")),
            Column("r_name", "varchar")))))
      graft.GraftEngine
        .deploy(s, manifest, new graft.planner.PathResolver(tmp, "json"))
        .query("SELECT r_regionkey, r_name FROM json_region ORDER BY r_regionkey")
    },
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    // JDBC warehouse scan through the semantic layer: parquet round-tripped into an
    // embedded Derby database, deployed via JdbcResolver (the funnel for the
    // reference's 20 warehouse connectors, ibis-server/app/model/data_source.py:241-530).
    // Catalyst pushes the projection to the remote (JDBCScan ReadSchema) — the role
    // the reference's unparse/ibis layer plays — and the scan range-partitions on the
    // primary key (JdbcPartitioning): 4 connections each reading a S_SUPPKEY stride,
    // so remote I/O parallelizes instead of serializing through one task.
    // Table/column identifiers are written uppercase so Spark's quoted CREATE matches
    // Derby's unquoted, case-folded lookup.
    "q27_jdbc_scan" -> (((s: SparkSession, dir: String) => {
      import graft.mdl._
      val url = derbyUrl // one embedded instance per JVM (re-runs reuse it)
      s.read.parquet(s"$dir/supplier.parquet")
        .selectExpr("s_suppkey AS S_SUPPKEY", "s_name AS S_NAME",
          "s_nationkey AS S_NATIONKEY", "s_acctbal AS S_ACCTBAL")
        .write.mode("overwrite").jdbc(url, "SUPPLIER", new java.util.Properties)
      val manifest = Manifest(
        catalog = "g", schema = "jdbc",
        models = List(Model(
          "jdbc_supplier", tableReference = Some(TableReference(table = "SUPPLIER")),
          primaryKey = Some("S_SUPPKEY"),
          columns = List(
            Column("s_suppkey", "bigint", expression = Some("S_SUPPKEY")),
            Column("s_name", "varchar", expression = Some("S_NAME")),
            Column("s_nationkey", "int", expression = Some("S_NATIONKEY")),
            Column("s_acctbal", "double", expression = Some("S_ACCTBAL"))))))
      graft.GraftEngine
        .deploy(s, manifest, new graft.planner.JdbcResolver(url,
          // bounds auto-derived: the resolver probes min/max(S_SUPPKEY) over one
          // remote connection, so the 4-way split matches the actual key range
          partitioning = Map("SUPPLIER" -> graft.planner.JdbcPartitioning(
            "S_SUPPKEY", numPartitions = 4))))
        .query(s"""SELECT s_nationkey, count(*) AS n_suppliers,
                  |  cast(sum(cast(s_acctbal as decimal(18,2))) as double) AS total_acctbal
                  |FROM jdbc_supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },
      s"""SELECT s_nationkey, count(*) AS n_suppliers,
         |  cast(sum(cast(s_acctbal as decimal(18,2))) as double) AS total_acctbal
         |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // One-pass table profiling (rows/nulls/distinct/min/max/mean per column) — the
    // warehouse utility behind the reference's validation probes, generalized: one
    // aggregation over the scan for any column count, exact decimal means, string
    // min/max renders so heterogeneous columns share a schema. exactDistinct=true
    // for the oracle (the default HLL++ estimate is the 100 TB path).
    "q28_profile" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      graft.operators.Profiler.profile(
          s.read.parquet(s"$dir/lineitem.parquet"),
          q28Columns.map(_._1),
          exactDistinct = true)
        .select(col("column").alias("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"), col("mean_value"))
        .orderBy("column_name")
    }, {
      def prof(c: String, numeric: Boolean): String = {
        val mean =
          if (numeric) s"cast(sum(cast($c as decimal(38,6))) as double) / count($c)"
          else "cast(NULL as double)"
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
           |  cast(min($c) as varchar) AS min_value,
           |  cast(max($c) as varchar) AS max_value,
           |  $mean AS mean_value
           |FROM lineitem""".stripMargin
      }
      q28Columns.map { case (c, numeric) => prof(c, numeric) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    })),

    // Equi-width histogram with engine-portable bin arithmetic
    // (floor((x − lo)/w) + 1, clamped): the bin ids and counts are exact.
    "q29_histogram" -> (((s: SparkSession, dir: String) =>
      graft.operators.Profiler.histogram(
          s.read.parquet(s"$dir/lineitem.parquet"),
          "l_extendedprice", lo = 0.0, hi = 110000.0, buckets = 11)
        .orderBy("bucket"),
      s"""SELECT least(greatest(cast(floor((l_extendedprice - 0.0) / 10000.0)
         |    as bigint) + 1, 1), 11) AS bucket, count(*) AS n
         |FROM lineitem WHERE l_extendedprice IS NOT NULL
         |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Morton (Z-order) interleave key — the clustering kernel behind
    // ScaleLayout.zorderLayout's data-skipping file layout, checked bit-for-bit:
    // the oracle recomputes the 8-bit two-column interleave with explicit shift/
    // mask arithmetic (16 terms), so any drift in the native kernel's bit
    // placement fails the hash compare.
    "q30_zorder" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.select(col("l_orderkey"), col("l_linenumber"),
          graft.operators.ScaleLayout.zorderKey(li,
            Seq(pmod(col("l_partkey"), lit(256)), pmod(col("l_suppkey"), lit(256))),
            bits = 8).alias("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }, {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH b AS (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS x, l_suppkey % 256 AS y
         |  FROM lineitem
         |)
         |SELECT l_orderkey, l_linenumber,
         |  cast(${terms.mkString(" + ")} as bigint) AS z
         |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin
    }))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, (fn, _)) => n -> fn }.toMap
  def oracles: Map[String, String] =
    defs.map { case (n, (_, o)) => n -> o }.toMap
}
