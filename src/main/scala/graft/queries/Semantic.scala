package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftEngine
import graft.mdl._

/** Semantic-layer operators (SURVEY.md §2.A) exercised end-to-end: each query deploys
  * an MDL manifest over the test parquet and runs SQL against *model* names; the oracle
  * is the hand-expanded equivalent SQL over the physical tables.
  */
object Semantic {

  private def pcol(name: String, t: String): Column = Column(name, t)
  private def ecol(name: String, t: String, e: String): Column =
    Column(name, t, expression = Some(e))
  private def relcol(name: String, t: String, rel: String): Column =
    Column(name, t, relationship = Some(rel))
  private def calc(name: String, t: String, e: String): Column =
    Column(name, t, isCalculated = true, expression = Some(e))

  /** TPC-H-ish manifest with relationships + calculated fields over the test tables. */
  def manifest: Manifest = Manifest(
    catalog = "graft", schema = "amalgam",
    models = List(
      Model(
        name = "m_region",
        tableReference = Some(TableReference(table = "region")),
        primaryKey = Some("r_regionkey"),
        columns = List(pcol("r_regionkey", "int"), pcol("r_name", "varchar"))),
      Model(
        name = "m_nation",
        tableReference = Some(TableReference(table = "nation")),
        primaryKey = Some("n_nationkey"),
        columns = List(
          pcol("n_nationkey", "int"), pcol("n_name", "varchar"), pcol("n_regionkey", "int"),
          relcol("region", "m_region", "nation_region"),
          calc("region_name", "varchar", "\"region\".\"r_name\""))),
      Model(
        name = "m_customer",
        tableReference = Some(TableReference(table = "customer")),
        primaryKey = Some("c_custkey"),
        columns = List(
          pcol("c_custkey", "bigint"), pcol("c_name", "varchar"),
          pcol("c_nationkey", "int"), pcol("c_acctbal", "double"),
          pcol("c_mktsegment", "varchar"),
          relcol("nation", "m_nation", "customer_nation"),
          relcol("orders", "m_orders", "orders_customer"),
          calc("nation_name", "varchar", "\"nation\".\"n_name\""),
          // two-hop to-one traversal (reference FIXTURES Order_items.Customer_state)
          calc("region_name", "varchar", "\"nation\".\"region\".\"r_name\""),
          // to-many aggregation (CalculationPlanNode, plan.rs:1038-1146)
          calc("total_spent", "decimal(18,2)",
            "sum(cast(\"orders\".\"o_totalprice\" as decimal(18,2)))"),
          calc("order_count", "bigint", "count(\"orders\".\"o_orderkey\")"))),
      Model(
        name = "m_orders",
        tableReference = Some(TableReference(table = "orders")),
        primaryKey = Some("o_orderkey"),
        columns = List(
          pcol("o_orderkey", "bigint"), pcol("o_custkey", "bigint"),
          pcol("o_orderstatus", "varchar"), pcol("o_totalprice", "double"),
          // exact-decimal mirror so metric aggregations stay engine-deterministic
          ecol("o_price_dec", "decimal(18,2)", "cast(o_totalprice as decimal(18,2))"),
          ecol("o_orderdate", "date", "cast(o_orderdate as date)"),
          pcol("o_orderpriority", "varchar"),
          // expression-backed column (ModelSourceNode, plan.rs:891-1035)
          ecol("order_cust", "varchar",
            "concat(cast(o_orderkey as string), '_', cast(o_custkey as string))"),
          relcol("customer", "m_customer", "orders_customer"),
          calc("cust_segment", "varchar", "\"customer\".\"c_mktsegment\""),
          // nested calculated field: references m_customer's own calc column
          // (the reference's hard case, test_context.rs:175-199)
          calc("cust_nation", "varchar", "\"customer\".\"nation_name\""))),
      Model(
        name = "m_lineitem",
        tableReference = Some(TableReference(table = "lineitem")),
        primaryKey = Some("l_orderkey"), // composite pk unsupported, like the reference
        columns = List(
          pcol("l_orderkey", "bigint"), pcol("l_partkey", "bigint"),
          pcol("l_suppkey", "bigint"), pcol("l_linenumber", "int"),
          pcol("l_quantity", "double"), pcol("l_extendedprice", "double"),
          pcol("l_discount", "double"), pcol("l_returnflag", "varchar"),
          pcol("l_linestatus", "varchar"),
          ecol("l_shipdate", "date", "cast(l_shipdate as date)"),
          ecol("revenue", "double", "l_extendedprice * (1 - l_discount)"),
          relcol("order_", "m_orders", "lineitem_orders"),
          calc("order_status", "varchar", "\"order_\".\"o_orderstatus\""),
          // two-hop: lineitem -> orders -> customer
          calc("cust_segment", "varchar", "\"order_\".\"customer\".\"c_mktsegment\"")))),
    relationships = List(
      Relationship("nation_region", List("m_nation", "m_region"), JoinType.ManyToOne,
        "\"m_nation\".\"n_regionkey\" = \"m_region\".\"r_regionkey\""),
      Relationship("customer_nation", List("m_customer", "m_nation"), JoinType.ManyToOne,
        "\"m_customer\".\"c_nationkey\" = \"m_nation\".\"n_nationkey\""),
      Relationship("orders_customer", List("m_orders", "m_customer"), JoinType.ManyToOne,
        "\"m_orders\".\"o_custkey\" = \"m_customer\".\"c_custkey\""),
      Relationship("lineitem_orders", List("m_lineitem", "m_orders"), JoinType.ManyToOne,
        "\"m_lineitem\".\"l_orderkey\" = \"m_orders\".\"o_orderkey\"")),
    views = List(
      View("v_big_orders",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM graft.amalgam.m_orders WHERE o_totalprice > 300000")),
    cubes = List(
      Cube("orders_cube", baseObject = "m_orders",
        measures = List(
          CubeMeasure("n", "count(*)"),
          CubeMeasure("total", "sum(cast(o_totalprice as decimal(18,2)))")),
        dimensions = List("cust_segment", "o_orderstatus"))),
    // v2 metrics (Metric.java:31-76): a grouped rollup with a monthly time grain,
    // a metric-on-metric (MetricSqlRender.java:97), and a cumulative metric over a
    // monthly date spine (CumulativeMetric.java + DateSpine)
    metrics = List(
      Metric("status_revenue", baseObject = "m_orders",
        dimension = List(pcol("o_orderstatus", "varchar")),
        measure = List(
          Column("n_orders", "bigint", expression = Some("count(*)")),
          Column("revenue", "double",
            expression = Some("cast(sum(o_price_dec) as double)"))),
        timeGrain = List(TimeGrain("odate", "o_orderdate", List("month")))),
      Metric("total_revenue", baseObject = "status_revenue",
        measure = List(Column("total", "double",
          expression = Some("cast(sum(cast(revenue as decimal(18,2))) as double)"))))),
    cumulativeMetrics = List(
      CumulativeMetric("cum_monthly_revenue", baseObject = "m_orders",
        measure = CumulativeMeasure("cum_revenue", "decimal(18,2)", "sum", "o_price_dec"),
        window = MetricWindow("mon", "o_orderdate", "month", "1995-01-01", "1996-12-01"))),
    // v2 macro (SQL temp function at deploy) + enum (Enum.Value literal rewrite)
    macros = List(Macro("discounted",
      "(price: double, pct: double) => cast(cast(price as decimal(18,2)) * cast(1 - pct as decimal(4,2)) as double)")),
    enums = List(EnumDefinition("OrderStatus", List(
      EnumValue("Open", Some("O")), EnumValue("Filled", Some("F")),
      EnumValue("Partial", Some("P"))))))

  private def deployAndRun(sql: String, props: Map[String, String] = Map.empty)(
      s: SparkSession, dir: String): DataFrame =
    GraftEngine.deployOnDir(s, manifest, dir, props).query(sql)

  /** Source SQL for `m21_unparse_duckdb`: a semantic query whose model expansion
    * (relationship join + expression column + decimal aggregate) is unparsed to
    * DuckDB SQL by [[graft.semantics.SqlUnparser]]. The oracle below is the
    * GENERATED text, pinned verbatim (SqlUnparserSpec asserts generator output
    * == this string), so the driver's DuckDB gate executes the unparser's own
    * output against the physical tables and hash-compares it to Spark executing
    * the source query — cross-engine proof of the unparse layer.
    */
  val m21Sql: String =
    """SELECT cust_segment, count(*) AS n, cast(sum(o_price_dec) as double) AS rev
      |FROM m_orders WHERE o_orderkey <= 5000
      |GROUP BY cust_segment ORDER BY cust_segment""".stripMargin

  /** Source SQL for `m22_unparse_window`: widens the cross-engine-executed
    * unparse surface to windows (row_number partition/order), a decorrelated
    * IN → semi join, and a filter over a window column. rn is cast to bigint in
    * the SOURCE query because Spark's row_number is int and DuckDB's bigint —
    * the cast travels through the unparse so both engines agree on the schema.
    */
  val m22Sql: String =
    """SELECT o_orderkey, rn FROM (
      |  SELECT o_orderkey, cast(row_number() OVER (
      |      PARTITION BY o_orderstatus ORDER BY o_orderkey) as bigint) AS rn
      |  FROM m_orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM m_customer WHERE c_acctbal > 5000)
      |) t WHERE rn <= 3 ORDER BY o_orderkey""".stripMargin

  val m22DuckOracle: String =
    """SELECT "c1" AS "o_orderkey", "c3" AS "rn" FROM (SELECT * FROM (SELECT "c1" AS "c1", CAST("c2" AS BIGINT) AS "c3" FROM (SELECT * FROM (SELECT *, CAST(row_number() OVER (PARTITION BY "c4" ORDER BY "c1" ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS "c2" FROM (SELECT "c1" AS "c1", "c4" AS "c4" FROM (SELECT "t1".* FROM (SELECT "c1" AS "c1", "c5" AS "c5", "c4" AS "c4" FROM (SELECT "o_orderkey" AS "c1", "o_custkey" AS "c5", "o_orderstatus" AS "c4" FROM "orders") "t2") "t1" SEMI JOIN (SELECT "c6" AS "c6" FROM (SELECT * FROM (SELECT "c_custkey" AS "c6", "c_acctbal" AS "c7" FROM "customer") "t3" WHERE (("c7" IS NOT NULL) AND ("c7" > 5000.0))) "t4") "t5" ON ("c5" = "c6")) "t6") "t7") "t8" WHERE ("c2" <= 3)) "t9") "t10" ORDER BY "c1" ASC NULLS FIRST) "t_out""""

  /** Source SQL for `m23_unparse_scalar_subq`: widens the cross-engine-executed
    * unparse surface to uncorrelated scalar subqueries (kept as expressions by
    * the optimizer — rendered as inline `(SELECT …)`) and explicit window
    * frames (`ROWS BETWEEN n PRECEDING AND CURRENT ROW`). The running sum is
    * cast to double in the source so both engines agree on the schema.
    */
  val m23Sql: String =
    """SELECT o_orderkey,
      |  cast(sum(o_price_dec) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double) AS run3
      |FROM m_orders
      |WHERE o_totalprice > 2 * (SELECT cast(sum(c_acctbal) as double) / count(*)
      |                          FROM m_customer)
      |ORDER BY o_orderkey LIMIT 50""".stripMargin

  val m23DuckOracle: String =
    """SELECT "c1" AS "o_orderkey", "c3" AS "run3" FROM (SELECT * FROM (SELECT "c1" AS "c1", CAST("c2" AS DOUBLE) AS "c3" FROM (SELECT *, CAST(sum("c4") OVER (PARTITION BY "c5" ORDER BY "c1" ASC NULLS FIRST ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS "c2" FROM (SELECT "c1" AS "c1", CAST("c6" AS DECIMAL(18,2)) AS "c4", "c5" AS "c5" FROM (SELECT * FROM (SELECT "o_orderkey" AS "c1", "o_orderstatus" AS "c5", "o_totalprice" AS "c6" FROM "orders") "t1" WHERE (("c6" IS NOT NULL) AND ("c6" > (2.0 * (SELECT (sum("c7") / CAST(count(*) AS DOUBLE)) AS "c8" FROM (SELECT "c7" AS "c7" FROM (SELECT "c_acctbal" AS "c7" FROM "customer") "t2") "t3"))))) "t4") "t5") "t6") "t7" ORDER BY "c1" ASC NULLS FIRST LIMIT 50) "t_out""""

  /** Source SQL for `m24_unparse_datetime`: widens the DuckDB-executed unparse
    * surface to datetime machinery — date_trunc (cast to DATE in the source:
    * Spark's returns TIMESTAMP, DuckDB's DATE), extract-from-date (`year()` →
    * `extract(year FROM …)`), a folded timestamp literal in the filter, and a
    * post-aggregate cast. yr is cast to bigint because DuckDB's extract is
    * bigint where Spark's year() is int.
    */
  val m24Sql: String =
    """SELECT cast(date_trunc('month', cast(o_orderdate as date)) as date) AS mon,
      |  count(*) AS n,
      |  cast(max(year(o_orderdate)) as bigint) AS yr
      |FROM m_orders
      |WHERE cast(o_orderdate as date) >= date '1996-01-01'
      |GROUP BY cast(date_trunc('month', cast(o_orderdate as date)) as date)
      |ORDER BY mon""".stripMargin

  val m24DuckOracle: String =
    """SELECT "c2" AS "mon", "c3" AS "n", "c5" AS "yr" FROM (SELECT * FROM (SELECT "c1" AS "c2", count(*) AS "c3", CAST(max(extract(year FROM "c4")) AS BIGINT) AS "c5" FROM (SELECT "c4" AS "c4", CAST(date_trunc('month', CAST("c4" AS TIMESTAMP)) AS DATE) AS "c1" FROM (SELECT CAST("c6" AS DATE) AS "c4" FROM (SELECT * FROM (SELECT "o_orderdate" AS "c6" FROM "orders") "t1" WHERE (("c6" IS NOT NULL) AND ("c6" >= TIMESTAMP '1996-01-01 00:00:00'))) "t2") "t3") "t4" GROUP BY "c1") "t5" ORDER BY "c2" ASC NULLS FIRST) "t_out""""

  /** Source SQL for `m25_unparse_zorder`: the Morton data-skipping kernel
    * (`zorder_key`, a custom native expression with no DuckDB builtin) travels
    * through the unparse layer as explicit shift/mask arithmetic — proof the
    * dialect layer covers the engine's own extensions, not just Spark
    * builtins. The oracle is the generated text, pinned verbatim
    * (SqlUnparserSpec), executed by DuckDB and hash-compared against Spark
    * running the native kernel.
    */
  val m25Sql: String =
    """SELECT o_orderkey, zorder_key(o_orderkey % 256, o_custkey % 256, 8) AS z
      |FROM m_orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  val m25DuckOracle: String =
    """SELECT "c1" AS "o_orderkey", "c3" AS "z" FROM (SELECT * FROM (SELECT "c1" AS "c1", (SELECT CAST(((("zb_d0" >> 0) & 1) << 0) + ((("zb_d0" >> 1) & 1) << 2) + ((("zb_d0" >> 2) & 1) << 4) + ((("zb_d0" >> 3) & 1) << 6) + ((("zb_d0" >> 4) & 1) << 8) + ((("zb_d0" >> 5) & 1) << 10) + ((("zb_d0" >> 6) & 1) << 12) + ((("zb_d0" >> 7) & 1) << 14) + ((("zb_d1" >> 0) & 1) << 1) + ((("zb_d1" >> 1) & 1) << 3) + ((("zb_d1" >> 2) & 1) << 5) + ((("zb_d1" >> 3) & 1) << 7) + ((("zb_d1" >> 4) & 1) << 9) + ((("zb_d1" >> 5) & 1) << 11) + ((("zb_d1" >> 6) & 1) << 13) + ((("zb_d1" >> 7) & 1) << 15) AS BIGINT) FROM (SELECT ((("c1" % 256)) & 255) AS "zb_d0", ((("c2" % 256)) & 255) AS "zb_d1") "zb") AS "c3" FROM (SELECT * FROM (SELECT "o_orderkey" AS "c1", "o_custkey" AS "c2" FROM "orders") "t1" WHERE (("c1" IS NOT NULL) AND ("c1" <= 2000))) "t2") "t3" ORDER BY "c1" ASC NULLS FIRST) "t_out""""

  /** Source SQL for the `m26_unparse_spine` cross-corpus entries: the
    * cumulative-metric expansion carries a date SPINE — `explode(sequence(
    * start, end, interval))` constant-folded by Catalyst into a literal
    * timestamp array — through the unparse layer, where it renders as the
    * dialect's inline-VALUES table (the reference's DataFusion unparser
    * renders its spines engine-side too, `plan.rs` date_spine). Executed by
    * the driver's DuckDB oracle for all four live-text dialects.
    */
  val m26Sql: String =
    """SELECT cast(mon as date) AS mon, cast(cum_revenue as double) AS cum_rev
      |FROM cum_monthly_revenue ORDER BY mon""".stripMargin

  /** Source SQL for `m27_unparse_spine_lateral`: a CORRELATED date spine —
    * `explode(sequence(col, date_add(col, 2), interval 1 day))` whose bounds
    * reference the host row, so Catalyst cannot fold it and the unparser must
    * emit the engine's lateral row-expansion idiom: DuckDB's scalar
    * `unnest(generate_series(...))` (its FROM-positioned table function
    * rejects lateral parameters), Postgres's implicitly-LATERAL
    * `CROSS JOIN generate_series(...)`, Trino's
    * `CROSS JOIN UNNEST(sequence(...))`. The DuckDB text is driver-executed;
    * the engines' series yield TIMESTAMPs where Spark yields DATEs, so the
    * rendering carries a CAST-to-DATE repair.
    */
  val m27Sql: String =
    """SELECT o_orderkey, cast(d as date) AS d FROM m_orders
      |LATERAL VIEW explode(sequence(o_orderdate, date_add(o_orderdate, 2),
      |                              interval 1 day)) g AS d
      |WHERE o_orderkey <= 200 ORDER BY o_orderkey, d""".stripMargin

  /** Source SQL for the `m28_unparse_fns_*` cross-corpus entries: the
    * round-10 function-surface mappings (split_part, locate→instr→strpos,
    * translate, log10, cbrt) over a model column, driver-EXECUTED for all
    * four live-text dialects (DuckDB's one-arg `log` is base-10 like
    * Redshift's, measured — so even the redshift rename executes
    * faithfully). Explicit casts pin the cross-engine result types
    * (strpos is int4 on Postgres, int8 on DuckDB; Spark locate is int), and
    * the math columns round to 6 decimals — cbrt/log10 differ from Java in
    * the last ULP on other engines (measured: DuckDB cbrt(2) ends ...34
    * where Java ends ...32), the repo's never-hash-raw-doubles rule.
    */
  val m28Sql: String =
    """SELECT o_orderkey,
      |  split_part(cust_segment, 'I', 1) AS p1,
      |  cast(locate('I', cust_segment) as bigint) AS pos,
      |  translate(cust_segment, 'AEIOU', '.....') AS tr,
      |  cast(round(log10(o_orderkey + 1), 6) as double) AS lg,
      |  cast(round(cbrt(o_orderkey), 6) as double) AS cb
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m31_unparse_regex_*` cross-corpus entries: the regex
    * family's global-replace and partial-match semantics, driver-EXECUTED
    * where the emitted text is DuckDB-faithful — duckdb (regexp_replace 'g',
    * regexp_matches) and postgres (regexp_replace 'g'; `~` is partial-match
    * in PG but FULL-match in DuckDB, so the pattern is anchored `^…*`-whole —
    * the two readings agree on every row). The replace pattern hits multiple
    * vowels per segment, so a first-match (wrong) reading changes every row.
    * trino/redshift renderings are valid for their engines but NOT
    * DuckDB-faithful (their regexp_replace is global where DuckDB's 3-arg
    * form is first-match) — golden-pinned + DialectLint instead, the m25
    * exclusion protocol.
    */
  val m31Sql: String =
    """SELECT o_orderkey,
      |  regexp_replace(cust_segment, '[AEIOU]', '.') AS rep,
      |  cust_segment rlike '^B.*' AS is_b
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m32_unparse_regex_extract_*` entries: group extract
    * with both a hit and a guaranteed miss — Spark/DuckDB answer '' on miss
    * where trino/postgres answer NULL, so the trino rendering's
    * `coalesce(…, '')` repair is DISCRIMINATING (the unrepaired reading
    * hash-mismatches every non-matching row). Executed for duckdb + trino;
    * postgres renders via `regexp_match(...)[i]` (valid PG, outside DuckDB's
    * parser) and redshift refuses extract (REGEXP_SUBSTR can't reach group
    * semantics) — both golden-pinned.
    */
  val m32Sql: String =
    """SELECT o_orderkey,
      |  regexp_extract(cust_segment, '^([A-Z]+)[AEIOU]', 1) AS head,
      |  regexp_extract(cust_segment, '(Q+)X', 1) AS miss
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m33_unparse_datetime_*` cross-corpus entries: the
    * datetime accessor/arithmetic family beyond m24's trunc/extract-year —
    * month/day accessors (ANSI `extract(… FROM …)` on the live dialects,
    * bigint-cast in the source because engines' extract is int8 where
    * Spark's is int) and day-granularity date arithmetic (`date ± n`).
    */
  val m33Sql: String =
    """SELECT o_orderkey,
      |  cast(month(o_orderdate) as bigint) AS mm,
      |  cast(day(o_orderdate) as bigint) AS dd,
      |  date_add(o_orderdate, 30) AS plus30,
      |  date_sub(o_orderdate, 7) AS minus7
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m34_unparse_strings_*` entries: the padding/slicing
    * string family (lpad/rpad with explicit pads, left/right, reverse) —
    * spellings shared by ALL four live dialects and DuckDB-faithful.
    */
  val m34Sql: String =
    """SELECT o_orderkey,
      |  lpad(cust_segment, 12, '.') AS lp,
      |  rpad(cust_segment, 12, '.') AS rp,
      |  left(cust_segment, 2) AS l2,
      |  right(cust_segment, 3) AS r3,
      |  reverse(cust_segment) AS rev
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m36_unparse_concat_*` entries: repeat + concat_ws —
    * duckdb/postgres spellings (trino has no string repeat, redshift no
    * concat_ws; both refuse loudly and stay golden-pinned).
    */
  val m36Sql: String =
    """SELECT o_orderkey,
      |  repeat(left(cust_segment, 2), 3) AS rep3,
      |  concat_ws('-', cust_segment, o_orderstatus) AS cw
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  /** Source SQL for `m37_translit_oracle`: designed so the Oracle rendering
    * exercises the FULL adjudicated transliteration set
    * ([[graft.semantics.Transliterate]]) — an inline VALUES join (→ Oracle's
    * `UNION ALL … FROM dual` expansion) plus a varchar cast (→ VARCHAR2(4000))
    * on top of the count/NUMBER spellings, so the dual-strip and VARCHAR2
    * rewrites are executed, not just defined.
    */
  val m37Sql: String =
    """SELECT v.lbl AS status_lbl, count(*) AS n,
      |  cast(min(o_orderkey) as string) AS first_key
      |FROM m_orders JOIN (VALUES ('F', 'final'), ('O', 'open')) AS v(st, lbl)
      |  ON o_orderstatus = v.st
      |WHERE o_orderkey <= 2000
      |GROUP BY v.lbl ORDER BY v.lbl""".stripMargin

  /** Source SQL for the `m39_translit_*` probes (clickhouse/snowflake/mssql —
    * round-14 TPC-H-breadth companions): exercises the spellings those
    * dialects' TPC-H renderings never produce, so every rule in the
    * adjudicated [[graft.semantics.Transliterate]] set executes — a DATE
    * literal (→ toDate32), month extraction (→ toMonth/DATEPART), int and
    * string casts (→ Int32 / AS String / NVARCHAR(MAX)), character length
    * (→ lengthUTF8/LEN), a boolean LITERAL (→ T-SQL CAST(1 AS BIT); the
    * comparison column is int-cast instead because T-SQL booleans are
    * predicates, never values — its CASE WHEN 1/0 INT rendering can only
    * hash-match an int column), and a
    * date→timestamp cast (→ DateTime64(6) / TIMESTAMP_NTZ / DATETIME2(6)).
    *
    * TYPED-PARITY rules (round-15 fix — the r14 gate's only red rows):
    * every integral projection lands as **bigint** because that is what
    * DuckDB executes on the transliterated side (month/length/DATEPART
    * return BIGINT there, and Snowflake's single integral spelling
    * NUMBER(38,0) can only transliterate to BIGINT) — the m33Sql precedent.
    * Where Catalyst would erase a no-op cast (month()/length() already
    * return int), the bigint cast is applied DIRECTLY (widening is
    * non-erasable); where the int spelling itself must render (Int32 / INT
    * — small_key, is_even), the int cast is kept NESTED inside the bigint
    * widening so both spellings reach the renderer and the end type is
    * still int64 on both engines. `od_ts` is cast to **timestamp_ntz**
    * (the Pipeline projected-timestamp convention): Spark's plain
    * `timestamp` dumps tz-adjusted where every dialect's transliterated
    * oracle lands a naive TIMESTAMP in DuckDB. The date and boolean
    * LITERALS are projected directly: Catalyst folds a
    * `cast(ts_col as date) >= date-lit` filter back to a timestamp literal
    * and erases boolean→boolean casts, so the filter/cast forms never reach
    * the renderer.
    */
  val m39Sql: String =
    """SELECT o_orderkey,
      |  cast(month(o_orderdate) as bigint) AS om,
      |  cast(cast(o_orderkey % 100 as int) as bigint) AS small_key,
      |  cast(o_orderkey as string) AS key_str,
      |  cast(length(o_orderstatus) as bigint) AS st_len,
      |  cast(cast(o_orderkey % 2 = 0 as int) as bigint) AS is_even,
      |  true AS always_on,
      |  date '1995-06-01' AS anchor_day,
      |  cast(o_orderdate as timestamp_ntz) AS od_ts
      |FROM m_orders
      |WHERE o_orderdate >= date '1995-06-01' AND o_orderkey <= 1500
      |ORDER BY o_orderkey""".stripMargin

  /** Source SQL for the `m35_unparse_conditional_*` entries: NULL-producing
    * conditionals (nullif — discriminating: rows where the branch fires go
    * NULL) + n-ary greatest/least + the sqrt/ln/exp math family under the
    * round-6 cross-engine double rule.
    */
  val m35Sql: String =
    """SELECT o_orderkey,
      |  nullif(o_orderstatus, 'O') AS maybe_status,
      |  greatest(o_orderkey % 7, o_orderkey % 5, cast(3 as bigint)) AS g,
      |  least(o_orderkey % 7, o_orderkey % 5, cast(3 as bigint)) AS l,
      |  cast(round(sqrt(o_orderkey), 6) as double) AS sq,
      |  cast(round(ln(o_orderkey + 1), 6) as double) AS lnx
      |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  val m21DuckOracle: String =
    """SELECT "c1" AS "cust_segment", "c2" AS "n", "c4" AS "rev" FROM (SELECT * FROM (SELECT "c1" AS "c1", count(*) AS "c2", CAST(CAST(sum("c3") AS DECIMAL(28,2)) AS DOUBLE) AS "c4" FROM (SELECT "c3" AS "c3", "c5" AS "c1" FROM (SELECT * FROM (SELECT "c6" AS "c6", CAST("c8" AS DECIMAL(18,2)) AS "c3" FROM (SELECT * FROM (SELECT "o_orderkey" AS "c9", "o_custkey" AS "c6", "o_totalprice" AS "c8" FROM "orders") "t2" WHERE (("c9" IS NOT NULL) AND ("c9" <= 5000))) "t3") "t1" LEFT JOIN (SELECT "c7" AS "c7", "c5" AS "c5" FROM (SELECT * FROM (SELECT "c_custkey" AS "c7", "c_mktsegment" AS "c5" FROM "customer") "t4" WHERE ("c7" IS NOT NULL)) "t5") "t6" ON ("c6" = "c7")) "t7") "t8" GROUP BY "c1") "t9" ORDER BY "c1" ASC NULLS FIRST) "t_out"""".stripMargin

  /** RLAC/CLAC manifest (FIXTURES.md §3 shape). */
  def aclManifest: Manifest = Manifest(
    catalog = "graft", schema = "amalgam",
    models = List(
      Model(
        name = "sec_customer",
        tableReference = Some(TableReference(table = "customer")),
        primaryKey = Some("c_custkey"),
        columns = List(
          pcol("c_custkey", "bigint"),
          Column("c_name", "varchar", columnLevelAccessControl = Some(
            ColumnLevelAccessControl("c_name_access",
              List(SessionProperty("session_level")), ClacOperator.Equals, "1"))),
          pcol("c_nationkey", "int"), pcol("c_acctbal", "double"),
          pcol("c_mktsegment", "varchar")),
        rowLevelAccessControls = List(
          RowLevelAccessControl("segment_access",
            List(SessionProperty("session_segment", required = true)),
            "\"c_mktsegment\" = @session_segment")))))

  val defs: Seq[(String, ((SparkSession, String) => DataFrame, Option[String]))] = Seq(

    // A2: expression-backed columns on the source scan
    "m1_model_expr" -> ((deployAndRun(
      """SELECT o_orderkey, order_cust, o_orderdate
        |FROM m_orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin)(_, _),
      Some("""SELECT o_orderkey,
             |  concat(cast(o_orderkey as varchar), '_', cast(o_custkey as varchar)) AS order_cust,
             |  cast(o_orderdate as date) AS o_orderdate
             |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin))),

    // A5: to-one calculated field via relationship chain
    "m2_calc_to_one" -> ((deployAndRun(
      """SELECT o_orderkey, cust_segment FROM m_orders
        |WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin)(_, _),
      Some("""SELECT o_orderkey, c_mktsegment AS cust_segment
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin))),

    // A4: to-many aggregated calculated field (pre-agg + join back on pk)
    "m3_calc_to_many" -> ((deployAndRun(
      """SELECT c_custkey, cast(total_spent as double) AS total_spent, order_count
        |FROM m_customer ORDER BY c_custkey""".stripMargin)(_, _),
      Some("""SELECT c_custkey,
             |  cast(agg.ts as double) AS total_spent,
             |  agg.oc AS order_count
             |FROM customer LEFT JOIN (
             |  SELECT o_custkey, sum(cast(o_totalprice as decimal(18,2))) AS ts, count(o_orderkey) AS oc
             |  FROM orders GROUP BY o_custkey
             |) agg ON c_custkey = agg.o_custkey
             |ORDER BY c_custkey""".stripMargin))),

    // A3: two-hop relation chain (lineitem -> orders -> customer)
    "m4_two_hop" -> ((deployAndRun(
      """SELECT l_orderkey, l_linenumber, cust_segment FROM m_lineitem
        |WHERE l_orderkey <= 600 ORDER BY l_orderkey, l_linenumber""".stripMargin)(_, _),
      Some("""SELECT l_orderkey, l_linenumber, c_mktsegment AS cust_segment
             |FROM lineitem
             |LEFT JOIN orders ON l_orderkey = o_orderkey
             |LEFT JOIN customer ON o_custkey = c_custkey
             |WHERE l_orderkey <= 600 ORDER BY l_orderkey, l_linenumber""".stripMargin))),

    // A10: MDL view expansion (+ catalog.schema namespace strip)
    "m5_view" -> ((deployAndRun(
      """SELECT v.o_orderkey, v.o_totalprice, c.nation_name
        |FROM v_big_orders v JOIN m_customer c ON v.o_custkey = c.c_custkey
        |ORDER BY v.o_orderkey""".stripMargin)(_, _),
      Some("""SELECT o_orderkey, o_totalprice, n_name AS nation_name
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |LEFT JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_totalprice > 300000
             |ORDER BY o_orderkey""".stripMargin))),

    // A11: row-level access control with @property substitution
    "m6_rlac" -> (((s: SparkSession, dir: String) => {
      GraftEngine.deployOnDir(s, Semantic.aclManifest, dir,
        Map("Session_segment" -> "BUILDING", "Session_level" -> "1"))
        .query("SELECT c_custkey, c_name, c_mktsegment FROM sec_customer ORDER BY c_custkey")
    },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin))),

    // Per-query session properties: ONE deployment answers two differently-governed
    // requests — the second query overrides the RLAC segment without a re-deploy
    // (the reference's x-wren-variable-* headers, ibis-server/app/mdl/rewriter.py:177-189).
    "m6b_rlac_per_query" -> (((s: SparkSession, dir: String) => {
      val sess = GraftEngine.deployOnDir(s, Semantic.aclManifest, dir,
        Map("Session_segment" -> "BUILDING", "Session_level" -> "1"))
      val automobile = sess.query(
        "SELECT c_custkey, c_mktsegment FROM sec_customer",
        Map("Session_segment" -> "AUTOMOBILE"))
      val building = sess.query("SELECT c_custkey, c_mktsegment FROM sec_customer")
      automobile.union(building).orderBy("c_custkey")
    },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
             |ORDER BY c_custkey""".stripMargin))),

    // A12: column-level access control — failing rule drops the column from the schema
    "m7_clac_deny" -> (((s: SparkSession, dir: String) => {
      GraftEngine.deployOnDir(s, Semantic.aclManifest, dir,
        Map("Session_segment" -> "BUILDING", "Session_level" -> "0"))
        .query("SELECT * FROM sec_customer ORDER BY c_custkey")
    },
      Some("""SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM customer
             |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin))),

    // A7: ref_sql-backed model
    "m8_ref_sql" -> (((s: SparkSession, dir: String) => {
      val m = Manifest(
        catalog = "graft", schema = "amalgam",
        models = List(Model(
          name = "daily_revenue",
          refSql = Some(
            """SELECT cast(l_shipdate as date) AS ship_date,
              |  sum(cast(l_extendedprice as decimal(18,2))) AS rev
              |FROM lineitem GROUP BY cast(l_shipdate as date)""".stripMargin),
          primaryKey = Some("ship_date"),
          columns = List(pcol("ship_date", "date"), pcol("rev", "decimal(18,2)")))))
      GraftEngine.deployOnDir(s, m, dir)
        .query("SELECT ship_date, cast(rev as double) AS rev FROM daily_revenue ORDER BY ship_date")
    },
      Some("""SELECT cast(l_shipdate as date) AS ship_date,
             |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS rev
             |FROM lineitem GROUP BY 1 ORDER BY ship_date""".stripMargin))),

    // Relationship row-count invariance (model.slt:40-44): traversing a calc field
    // must not change the host model's row count.
    "m9_count_invariance" -> ((deployAndRun(
      """SELECT (SELECT count(*) FROM m_orders) AS model_count,
        |       (SELECT count(cust_segment) FROM m_orders) AS calc_count
        |""".stripMargin)(_, _),
      Some("""SELECT (SELECT count(*) FROM orders) AS model_count,
             |       (SELECT count(c_mktsegment) FROM orders LEFT JOIN customer ON o_custkey = c_custkey) AS calc_count
             |""".stripMargin))),

    // A13: model substitution — SQL written against *physical* table names executes
    // against the governing models (substitute.py:14-124). The substituted query runs
    // on m_orders (date-typed o_orderdate, expression columns), so the oracle mirrors
    // the model's projection, proving the rewrite actually hit the model.
    "m11_substitute" -> (((s: SparkSession, dir: String) => {
      GraftEngine.deployOnDir(s, Semantic.manifest, dir)
        .querySubstituted(
          """SELECT o_orderkey, order_cust, o_orderdate
            |FROM orders WHERE o_orderkey <= 800 ORDER BY o_orderkey""".stripMargin)
    },
      Some("""SELECT o_orderkey,
             |  concat(cast(o_orderkey as varchar), '_', cast(o_custkey as varchar)) AS order_cust,
             |  cast(o_orderdate as date) AS o_orderdate
             |FROM orders WHERE o_orderkey <= 800 ORDER BY o_orderkey""".stripMargin))),

    // Nested calculated field: m_orders.cust_nation references m_customer.nation_name,
    // itself a calc over the customer->nation relationship.
    "m12_nested_calc" -> ((deployAndRun(
      """SELECT o_orderkey, cust_nation FROM m_orders
        |WHERE o_orderkey <= 900 ORDER BY o_orderkey""".stripMargin)(_, _),
      Some("""SELECT o_orderkey, n_name AS cust_nation
             |FROM orders
             |LEFT JOIN customer ON o_custkey = c_custkey
             |LEFT JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderkey <= 900 ORDER BY o_orderkey""".stripMargin))),

    // Cube materialization: manifest cube -> CUBE() rollup view over the base model.
    "m13_cube" -> (((s: SparkSession, dir: String) => {
      val session = GraftEngine.deployOnDir(s, Semantic.manifest, dir)
      session.materializeCube("orders_cube")
      session.query(
        """SELECT coalesce(cust_segment, 'ALL') AS seg, coalesce(o_orderstatus, 'ALL') AS st,
          |  n, cast(total as double) AS total
          |FROM orders_cube ORDER BY seg, st""".stripMargin)
    },
      Some("""SELECT coalesce(c_mktsegment, 'ALL') AS seg, coalesce(o_orderstatus, 'ALL') AS st,
             |  count(*) AS n,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |GROUP BY CUBE(c_mktsegment, o_orderstatus)
             |ORDER BY seg, st""".stripMargin))),

    // A17: parquet-backed query cache — the first call populates, the second serves
    // from the cache; the returned (cached) rows must equal the direct oracle.
    "m14_cached" -> (((s: SparkSession, dir: String) => {
      val sess = GraftEngine.deployOnDir(s, Semantic.manifest, dir)
      val cache = new graft.api.QueryCache(
        java.nio.file.Files.createTempDirectory("graft_qc_").toString)
      val sql =
        """SELECT o_orderkey, cast(cast(o_totalprice as decimal(18,2)) as double) AS price
          |FROM m_orders WHERE o_orderkey <= 400 ORDER BY o_orderkey""".stripMargin
      sess.queryCached(sql, cache).count() // populate
      sess.queryCached(sql, cache)         // serve from cache
        .select("o_orderkey", "price").orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, cast(cast(o_totalprice as decimal(18,2)) as double) AS price
             |FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey""".stripMargin))),

    // A14: manifest extractor — deployJson(forSql) prunes the manifest to the models
    // the SQL needs. The pruning is observable: the unpruned manifest carries a model
    // over a non-existent table, so deploy succeeds ONLY if extraction dropped it.
    "m15_extractor" -> (((s: SparkSession, dir: String) => {
      val manifestJson =
        """{"catalog":"graft","schema":"amalgam","models":[
          |  {"name":"x_orders","tableReference":"orders","columns":[
          |    {"name":"o_orderkey","type":"bigint"},
          |    {"name":"o_totalprice","type":"double"}]},
          |  {"name":"x_bogus","tableReference":"no_such_table","columns":[
          |    {"name":"z","type":"int"}]}
          |]}""".stripMargin
      val sql =
        """SELECT o_orderkey, o_totalprice FROM x_orders
          |WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin
      GraftEngine.deployJson(s, manifestJson, new graft.planner.PathResolver(dir),
        forSql = Some(sql)).query(sql)
    },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin))),

    // A18: JSON result formatting — the queryJson response is parsed BACK through
    // Spark's JSON reader and its positional data rows compared to the oracle, so the
    // response shape (columns/dtypes/data) and value rendering are both checked.
    "m16_json_result" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, element_at, explode}
      val sess = GraftEngine.deployOnDir(s, Semantic.manifest, dir)
      val json = sess.queryJson(
        """SELECT o_orderkey, cast(o_totalprice as decimal(18,2)) AS price
          |FROM m_orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin)
      import s.implicits._
      s.read.json(s.createDataset(Seq(json)))
        .select(explode(col("data")).alias("row"))
        .select(
          element_at(col("row"), 1).cast("bigint").alias("o_orderkey"),
          element_at(col("row"), 2).cast("double").alias("price"))
        .orderBy("o_orderkey")
    },
      Some("""SELECT o_orderkey, cast(cast(o_totalprice as decimal(18,2)) as double) AS price
             |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin))),

    // v2 metric + metric-on-metric: the deployed metric view vs a direct rollup,
    // with the second-level metric folded in as a scalar
    "m17_metric" -> ((deployAndRun(
      """SELECT o_orderstatus AS st, n_orders, revenue,
        |  (SELECT total FROM total_revenue) AS grand_total
        |FROM status_revenue ORDER BY st""".stripMargin)(_, _),
      Some("""WITH sr AS (
             |  SELECT o_orderstatus AS st, count(*) AS n_orders,
             |    cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
             |  FROM orders GROUP BY 1)
             |SELECT st, n_orders, revenue,
             |  (SELECT cast(sum(cast(revenue as decimal(18,2))) as double) FROM sr) AS grand_total
             |FROM sr ORDER BY st""".stripMargin))),

    // time-grain rollup view generated from the metric's timeGrain declaration
    "m18_metric_grain" -> ((deployAndRun(
      """SELECT cast(odate as timestamp_ntz) AS mon, o_orderstatus AS st, n_orders, revenue
        |FROM status_revenue_odate_month ORDER BY mon, st""".stripMargin)(_, _),
      Some("""SELECT cast(date_trunc('month', cast(o_orderdate as timestamp)) as timestamp) AS mon,
             |  o_orderstatus AS st, count(*) AS n_orders,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
             |FROM orders GROUP BY 1, 2 ORDER BY mon, st""".stripMargin))),

    // cumulative metric over the monthly date spine (empty months carry the total)
    "m19_cumulative" -> ((deployAndRun(
      """SELECT cast(mon as timestamp_ntz) AS mon, cast(cum_revenue as double) AS cum_rev
        |FROM cum_monthly_revenue ORDER BY mon""".stripMargin)(_, _),
      Some("""WITH spine AS (
             |  SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
             |                                TIMESTAMP '1996-12-01', INTERVAL 1 month)) AS mon),
             |agg AS (
             |  SELECT date_trunc('month', cast(o_orderdate as timestamp)) AS mon,
             |    sum(cast(o_totalprice as decimal(18,2))) AS s
             |  FROM orders
             |  WHERE cast(o_orderdate as timestamp) >= TIMESTAMP '1995-01-01'
             |    AND cast(o_orderdate as timestamp) <= TIMESTAMP '1996-12-01'
             |  GROUP BY 1)
             |SELECT spine.mon AS mon,
             |  cast(sum(agg.s) OVER (ORDER BY spine.mon) as double) AS cum_rev
             |FROM spine LEFT JOIN agg USING (mon) ORDER BY mon""".stripMargin))),

    // v2 macro expansion + Enum.Value rewrite in one query
    "m20_macro_enum" -> ((deployAndRun(
      """SELECT o_orderkey, discounted(o_totalprice, cast(0.10 as double)) AS disc
        |FROM m_orders
        |WHERE o_orderstatus = OrderStatus.Filled AND o_orderkey <= 600
        |ORDER BY o_orderkey""".stripMargin)(_, _),
      Some("""SELECT o_orderkey,
             |  cast(cast(o_totalprice as decimal(18,2)) * cast(1 - 0.10 as decimal(4,2)) as double) AS disc
             |FROM orders
             |WHERE o_orderstatus = 'F' AND o_orderkey <= 600
             |ORDER BY o_orderkey""".stripMargin))),

    // Aggregation over a semantic model (the reference's flagship test_access_model shape)
    "m10_model_agg" -> ((deployAndRun(
      """SELECT cust_segment, count(*) AS n,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS seg_rev
        |FROM m_orders GROUP BY cust_segment ORDER BY cust_segment""".stripMargin)(_, _),
      Some("""SELECT c_mktsegment AS cust_segment, count(*) AS n,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS seg_rev
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY cust_segment""".stripMargin))),

    // §2.C parity stretch: the unparse layer (Mode::Unparse / transform_sql) —
    // DuckDB executes the machine-emitted dialect text (see m21DuckOracle).
    "m21_unparse_duckdb" -> ((deployAndRun(m21Sql)(_, _), Some(m21DuckOracle))),
    "m22_unparse_window" -> ((deployAndRun(m22Sql)(_, _), Some(m22DuckOracle))),
    "m23_unparse_scalar_subq" -> ((deployAndRun(m23Sql)(_, _), Some(m23DuckOracle))),
    "m24_unparse_datetime" -> ((deployAndRun(m24Sql)(_, _), Some(m24DuckOracle))),
    "m25_unparse_zorder" -> ((deployAndRun(m25Sql)(_, _), Some(m25DuckOracle))),

    // Streaming semantic layer (no reference counterpart — the Spark-native
    // extension): the SAME manifest machinery — model expansion, @property RLAC,
    // a to-one calculated field — planned over `readStream` via
    // StreamingPathResolver (orders streams, customer stays a static dimension;
    // the calc field is a stream⨝static join). Trigger.AvailableNow drains the
    // directory with streaming fault-tolerance semantics, so the sink parquet
    // equals the batch answer and the ordinary DuckDB oracle closes the gate.
    "m38_stream_model" -> (((s: SparkSession, dir: String) => {
      val sess = GraftEngine.deploy(s, streamManifest,
        new graft.planner.StreamingPathResolver(dir, Set("orders")),
        Map("min_total" -> "300000"))
      val stream = sess.query(
        "SELECT o_orderkey, cust_segment, o_totalprice FROM s_orders")
      require(stream.isStreaming, "m38 must plan a streaming query")
      val tmp = java.nio.file.Files.createTempDirectory("graft_m38_").toString
      val q = stream.writeStream
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // materialize (harness-sized: the >300k-price slice) and delete the
      // sink+checkpoint tree — a lazy reader would leak one temp dir per
      // bench/verify invocation (the w2/mm8 materializeAndClean lesson)
      val out = s.read.parquet(s"$tmp/out").orderBy("o_orderkey")
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(out.collect(): _*)
      val materialized = s.createDataFrame(rows, out.schema)
      graft.util.Fs.deleteTree(tmp)
      materialized
    },
      Some("""SELECT o_orderkey, c_mktsegment AS cust_segment, o_totalprice
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > 300000
             |ORDER BY o_orderkey""".stripMargin))),

    // MDL auto-generation (round-14 #3, reference skills/wren-generate-mdl):
    // scan the data dir → draft manifest (typed models, uniqueness-probed PK
    // candidates, name/type-matched relationship suggestions) → deploy the
    // DRAFT → query through two generated models joined on a suggested edge.
    // The draft is deterministic given the tables, so the plain-SQL oracle
    // closes the whole scan→draft→deploy→query path; GenerateMdlSpec pins the
    // drafted pks/relationships themselves.
    "m40_generated_mdl" -> (((s: SparkSession, dir: String) => {
      val draft = graft.mdl.GenerateMdl.fromParquetDir(s, dir)
      val rel = draft.manifest.relationship("orders_customer")
      require(rel.exists(_.joinType == JoinType.ManyToOne),
        "draft lost the orders->customer suggestion")
      val sess = GraftEngine.deployOnDir(s, draft.manifest, dir)
      sess.query(
        """SELECT c_mktsegment AS seg, count(*) AS n,
          |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS rev
          |FROM graft.draft.orders JOIN graft.draft.customer
          |  ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      Some("""SELECT c_mktsegment AS seg, count(*) AS n,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))),

    // Raw-file ingest with dlt's MERGE disposition (round-15 stretch; the
    // in-sandbox dlt-connector landing loop): wave 1 lands a CSV slice of
    // orders, wave 2 re-lands the overlapping back half with DOUBLED prices
    // plus new keys, merged by o_orderkey (batch wins). The oracle replays
    // the upsert relationally over the parquet originals — CSV text
    // round-trips doubles exactly (Java's shortest-round-trip repr), so the
    // decimal-exact total only matches if the typed landing AND the merge
    // keep every surviving row's provenance right: an old row leaking
    // through, a batch row dropped, or a double corrupted in text all move
    // the sum. Aggregated output so the CSV-inferred int32 keys never reach
    // the typed compare.
    "m41_ingest_merge" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => c, expr => e}
      val tmp = java.nio.file.Files.createTempDirectory("graft_m41_").toString
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(c("o_orderkey"), c("o_custkey"), c("o_orderstatus"), c("o_totalprice"))
      def csv(sub: org.apache.spark.sql.DataFrame, wave: String): String = {
        val rows = sub.collect().map(r =>
          s"${r.getLong(0)},${r.getLong(1)},${r.getString(2)},${r.getDouble(3)}")
        val dirP = java.nio.file.Paths.get(s"$tmp/$wave")
        java.nio.file.Files.createDirectories(dirP)
        java.nio.file.Files.write(dirP.resolve("orders_m41.csv"),
          ("o_orderkey,o_custkey,o_orderstatus,o_totalprice" +: rows.toSeq)
            .mkString("\n").getBytes("UTF-8"))
        dirP.toString
      }
      val w1 = csv(orders.filter(c("o_orderkey") <= 1000), "wave1")
      val w2 = csv(orders.filter(c("o_orderkey") > 500 && c("o_orderkey") <= 1500)
        .withColumn("o_totalprice", e("o_totalprice * 2")), "wave2")
      graft.mdl.LandRaw.land(s, w1, s"$tmp/landed", "replace")
      graft.mdl.LandRaw.land(s, w2, s"$tmp/landed", "merge",
        Map("orders_m41" -> "o_orderkey"))
      val out = s.read.parquet(s"$tmp/landed/orders_m41.parquet")
        .agg(
          e("cast(count(*) as bigint)").alias("n"),
          e("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").alias("total"))
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(out.collect(): _*)
      val materialized = s.createDataFrame(rows, out.schema)
      graft.util.Fs.deleteTree(tmp)
      materialized
    },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey <= 1000
             |), batch AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice * 2 AS o_totalprice
             |  FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 1500
             |), merged AS (
             |  SELECT * FROM batch
             |  UNION ALL
             |  SELECT * FROM base
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
             |)
             |SELECT cast(count(*) as bigint) AS n,
             |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
             |FROM merged""".stripMargin)))
  )

  /** Streaming-deploy manifest: the fact model streams, the dimension stays
    * static; RLAC and the calc field plan over the stream unchanged
    * ([[graft.planner.StreamingPathResolver]]).
    */
  def streamManifest: Manifest = Manifest(
    catalog = "graft", schema = "amalgam",
    models = List(
      Model(
        name = "s_customer",
        tableReference = Some(TableReference(table = "customer")),
        primaryKey = Some("c_custkey"),
        columns = List(pcol("c_custkey", "bigint"), pcol("c_mktsegment", "varchar"))),
      Model(
        name = "s_orders",
        tableReference = Some(TableReference(table = "orders")),
        primaryKey = Some("o_orderkey"),
        columns = List(
          pcol("o_orderkey", "bigint"), pcol("o_custkey", "bigint"),
          pcol("o_totalprice", "double"),
          relcol("customer", "s_customer", "s_orders_customer"),
          calc("cust_segment", "varchar", "\"customer\".\"c_mktsegment\"")),
        rowLevelAccessControls = List(
          RowLevelAccessControl("min_total_rule",
            List(SessionProperty("min_total", required = true)),
            "\"o_totalprice\" > @min_total")))),
    relationships = List(
      Relationship("s_orders_customer", List("s_orders", "s_customer"),
        JoinType.ManyToOne,
        "\"s_orders\".\"o_custkey\" = \"s_customer\".\"c_custkey\"")))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, (fn, _)) => n -> fn }.toMap ++ pgUnparseQueries
  def oracles: Map[String, String] =
    defs.flatMap { case (n, (_, o)) => o.map(n -> _) }.toMap

  /** Cross-engine-EXECUTED dialect corpus: postgres/trino/redshift renderings
    * of m21–m24 (+ m25 for postgres; trino/redshift refuse the Morton
    * expansion by design) become driver entries whose oracle is the LIVE
    * dialect text. The driver's DuckDB oracle executes each — DuckDB parses
    * all three dialects' emitted ANSI subset (DOUBLE PRECISION/NUMERIC
    * spellings, correlated EXISTS semi joins, DATE + INTEGER arithmetic,
    * type-fidelity aggregate casts) — so those dialects' output is executed
    * and hash-compared on a second engine, not just snapshot-pinned.
    */
  private val crossCorpus: Seq[(String, String, String)] =
    (for (d <- Seq("postgres", "trino", "redshift");
          (m, sql) <- Seq("m21" -> m21Sql, "m22" -> m22Sql,
            "m23" -> m23Sql, "m24" -> m24Sql))
      yield (s"${m}_unparse_$d", d, sql)) ++
      Seq(("m25_unparse_postgres", "postgres", m25Sql)) ++
      // the cumulative-metric date spine (explode of a folded literal array →
      // inline VALUES) — all four live-text dialects, duckdb included
      Seq("duckdb", "postgres", "trino", "redshift").map(d =>
        (s"m26_unparse_spine_$d", d, m26Sql)) ++
      // the CORRELATED spine executes only for duckdb (the postgres/trino
      // lateral forms are valid for their engines but outside DuckDB's
      // parser — golden-pinned instead)
      Seq(("m27_unparse_spine_lateral", "duckdb", m27Sql)) ++
      // the round-10 function-surface mappings, executed on every live-text
      // dialect (each rendering is DuckDB-parseable AND DuckDB-faithful)
      Seq("duckdb", "postgres", "trino", "redshift").map(d =>
        (s"m28_unparse_fns_$d", d, m28Sql)) ++
      // regex family (round-11 ask #3): executed only where the emitted text
      // is DuckDB-FAITHFUL — trino/redshift render 3-arg regexp_replace
      // (global on their engines, first-match in DuckDB) and trino's
      // regexp_like / postgres's regexp_match[] are outside DuckDB's
      // surface; those stay golden-pinned + DialectLint'd (see m31Sql/m32Sql
      // docstrings)
      Seq("duckdb", "postgres").map(d => (s"m31_unparse_regex_$d", d, m31Sql)) ++
      Seq("duckdb", "trino").map(d => (s"m32_unparse_regex_extract_$d", d, m32Sql)) ++
      // datetime accessor/arithmetic family: trino's date_add('day', n, d)
      // spelling is valid Trino but not DuckDB (golden-pinned); the other
      // three render extract + date±int, which DuckDB executes faithfully
      Seq("duckdb", "postgres", "redshift").map(d =>
        (s"m33_unparse_datetime_$d", d, m33Sql)) ++
      // padding/slicing strings and the conditional/math family — spellings
      // shared by all four live dialects
      Seq("duckdb", "postgres", "trino", "redshift").map(d =>
        (s"m34_unparse_strings_$d", d, m34Sql)) ++
      Seq("duckdb", "postgres", "trino", "redshift").map(d =>
        (s"m35_unparse_conditional_$d", d, m35Sql)) ++
      // repeat/concat_ws exist on duckdb/postgres AND — the ClickHouse
      // vacuous-subset guard fired for exactly this entry — on clickhouse,
      // whose rendering is fully-ANSI under the new double-quote identifier
      // style (repeat/concat_ws/substring are shared spellings): the FIRST
      // driver-EXECUTED clickhouse text. trino has no string repeat,
      // redshift no concat_ws — loud refusals, golden-pinned absent.
      Seq("duckdb", "postgres", "clickhouse").map(d =>
        (s"m36_unparse_concat_$d", d, m36Sql)) ++
      // snowflake's string/conditional renderings are ANSI (it quotes with
      // double quotes and these families carry no NUMBER/TIMESTAMP_NTZ
      // types) — its first driver-EXECUTED texts; greatest/least NULL
      // semantics differ from DuckDB only on NULL inputs, which these
      // columns never produce (probed 2026-08-15)
      Seq("m34" -> m34Sql, "m35" -> m35Sql, "m36" -> m36Sql).map { case (m, sql) =>
        (s"${m}_unparse_snowflake", "snowflake", sql) } ++
      // T-SQL's m21–m23 renderings execute in DuckDB too (the OFFSET 0 ROWS
      // bare-ORDER-BY suffix and boolean-as-1/0 hooks are inside DuckDB's
      // grammar; every division in them is explicitly double-cast, so
      // T-SQL's integer `/` trap cannot fire) — mssql's first executed texts
      Seq("m21" -> m21Sql, "m22" -> m22Sql, "m23" -> m23Sql).map { case (m, sql) =>
        (s"${m}_unparse_mssql", "mssql", sql) }

  /** Fidelity-lossy STRUCTURAL probes for the golden-only trio
    * (mysql/bigquery/oracle): the oracle text is the live rendering passed
    * through [[graft.semantics.Transliterate]] — a mechanical, lint-pinned
    * spelling rewrite (backtick→ANSI quote, GoogleSQL/Oracle type names→ANSI,
    * dual strip) so DuckDB executes the join/subquery/predicate STRUCTURE of
    * those renderers even though their native spellings never can be. Type
    * fidelity stays with the goldens; structure is now gate-falsifiable.
    * m37 (oracle only) adds a VALUES→UNION-ALL-over-dual expansion and a
    * VARCHAR2 cast so every rewrite in the adjudicated set executes.
    */
  private[graft] val translitCorpus: Seq[(String, String, String)] =
    (for ((m, sql) <- Seq("m21" -> m21Sql, "m22" -> m22Sql, "m23" -> m23Sql);
          d <- Seq("mysql", "bigquery", "oracle"))
      yield (s"${m}_translit_$d", d, sql)) ++
      Seq(("m37_translit_oracle", "oracle", m37Sql)) ++
      // round-14: the graduated trio's rule-coverage probes (see m39Sql)
      Seq("clickhouse", "snowflake", "mssql").map(d =>
        (s"m39_translit_$d", d, m39Sql))

  def pgUnparseQueries: Map[String, (SparkSession, String) => DataFrame] =
    (crossCorpus ++ translitCorpus).map { case (n, _, sql) =>
      n -> ((s: SparkSession, dir: String) => deployAndRun(sql)(s, dir)) }.toMap

  /** Live-generated dialect texts for [[pgUnparseQueries]] (same protocol as
    * [[TpcH.unparseOracles]] — path-independent table names, planned on the
    * smallest SF).
    */
  def pgUnparseOracles: Map[String, String] = {
    val session = GraftEngine.deployOnDir(SparkSession.active, manifest, "/root/testdata/sf0.001")
    val live = crossCorpus.flatMap { case (n, d, sql) =>
      try Some(n -> session.transformSql(sql, d))
      catch { case e: Exception =>
        System.err.println(s"[cross-unparse-oracle] $n: ${e.getMessage}"); None }
    }.toMap
    val translit = translitCorpus.flatMap { case (n, d, sql) =>
      try Some(n -> graft.semantics.Transliterate(d, session.transformSql(sql, d)))
      catch { case e: Exception =>
        System.err.println(s"[translit-oracle] $n: ${e.getMessage}"); None }
    }.toMap
    live ++ translit
  }
}
