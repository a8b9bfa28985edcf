package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftEngine
import graft.mdl._

/** TPC-H q1–q22 through the semantic layer, mirroring the reference's own TPC-H
  * corpus (`wren-core/sqllogictest/test_files/tpch/q*.slt.part`, planned via the
  * TPC-H MDL in `wren-core/benchmarks/src/tpch/`). Models here are 1:1 passthroughs
  * of the physical tables, so the exact same SQL text runs on Spark (against the
  * deployed models) and in DuckDB (against the parquet) — `common` below.
  *
  * The driver's synthetic schema omits `partsupp` and several TPC-H columns
  * (l_commitdate/l_receiptdate, o_comment, p_container, c_phone ...). Each affected
  * query keeps its defining operator shape with a documented substitution:
  *   - partsupp-based cost/availability (q2, q11, q16, q20) → lineitem-derived
  *     unit price / shipped volume;
  *   - commit-vs-receipt lateness (q4, q12, q21) → shipped more than N days after
  *     the order date;
  *   - phone country code (q22) → nationkey bucket.
  *
  * Cross-engine float determinism: money is cast to exact decimals before any
  * aggregation, and only the final value is cast to double (see Relational's note);
  * averages are sum/count with double division, never avg() over doubles.
  */
object TpcH {

  private def pcol(name: String, t: String): Column = Column(name, t)

  /** 1:1 passthrough manifest: model name == physical table name. */
  def manifest: Manifest = Manifest(
    catalog = "graft", schema = "tpch",
    models = List(
      Model("region", tableReference = Some(TableReference(table = "region")),
        primaryKey = Some("r_regionkey"),
        columns = List(pcol("r_regionkey", "int"), pcol("r_name", "varchar"))),
      Model("nation", tableReference = Some(TableReference(table = "nation")),
        primaryKey = Some("n_nationkey"),
        columns = List(pcol("n_nationkey", "int"), pcol("n_name", "varchar"),
          pcol("n_regionkey", "int"))),
      Model("customer", tableReference = Some(TableReference(table = "customer")),
        primaryKey = Some("c_custkey"),
        columns = List(pcol("c_custkey", "bigint"), pcol("c_name", "varchar"),
          pcol("c_nationkey", "int"), pcol("c_acctbal", "double"),
          pcol("c_mktsegment", "varchar"))),
      Model("supplier", tableReference = Some(TableReference(table = "supplier")),
        primaryKey = Some("s_suppkey"),
        columns = List(pcol("s_suppkey", "bigint"), pcol("s_name", "varchar"),
          pcol("s_nationkey", "int"), pcol("s_acctbal", "double"))),
      Model("part", tableReference = Some(TableReference(table = "part")),
        primaryKey = Some("p_partkey"),
        columns = List(pcol("p_partkey", "bigint"), pcol("p_name", "varchar"),
          pcol("p_brand", "varchar"), pcol("p_type", "varchar"),
          pcol("p_size", "int"), pcol("p_retailprice", "double"))),
      Model("orders", tableReference = Some(TableReference(table = "orders")),
        primaryKey = Some("o_orderkey"),
        columns = List(pcol("o_orderkey", "bigint"), pcol("o_custkey", "bigint"),
          pcol("o_orderstatus", "varchar"), pcol("o_totalprice", "double"),
          pcol("o_orderdate", "timestamp"), pcol("o_orderpriority", "varchar"))),
      Model("lineitem", tableReference = Some(TableReference(table = "lineitem")),
        primaryKey = Some("l_orderkey"),
        columns = List(pcol("l_orderkey", "bigint"), pcol("l_partkey", "bigint"),
          pcol("l_suppkey", "bigint"), pcol("l_linenumber", "int"),
          pcol("l_quantity", "double"), pcol("l_extendedprice", "double"),
          pcol("l_discount", "double"), pcol("l_tax", "double"),
          pcol("l_returnflag", "varchar"), pcol("l_linestatus", "varchar"),
          pcol("l_shipdate", "timestamp")))))

  /** Same text on Spark (deployed models) and DuckDB (physical parquet). */
  private def common(sql: String): ((SparkSession, String) => DataFrame, String) =
    (((s: SparkSession, dir: String) =>
      GraftEngine.deployOnDir(s, manifest, dir).query(sql)), sql)

  private def dec(c: String) = s"cast($c as decimal(18,2))"
  private val rev = s"${dec("l_extendedprice")} * (1 - ${dec("l_discount")})"
  /** "Shipped more than `days` days after the order was placed" — the lateness
    * substitute for the missing commit/receipt dates. Portable: Spark keeps
    * date + interval as date, DuckDB widens to timestamp, so both sides re-cast.
    */
  private def late(days: Int) =
    s"cast(l_shipdate as date) > cast(cast(o_orderdate as date) + interval '$days' day as date)"

  val defs: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(

    // pricing summary report: multi-agg scan with group-by
    "tpch_q1" -> common(
      s"""SELECT l_returnflag, l_linestatus,
         |  cast(sum(${dec("l_quantity")}) as double) AS sum_qty,
         |  cast(sum(${dec("l_extendedprice")}) as double) AS sum_base_price,
         |  cast(sum($rev) as double) AS sum_disc_price,
         |  cast(sum($rev * (1 + ${dec("l_tax")})) as double) AS sum_charge,
         |  cast(sum(${dec("l_quantity")}) as double) / count(*) AS avg_qty,
         |  cast(sum(${dec("l_extendedprice")}) as double) / count(*) AS avg_price,
         |  cast(sum(${dec("l_discount")}) as double) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE cast(l_shipdate as date) <= date '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // min-cost supplier: regional minimum as a window over the SAME joined set
    // the correlated MIN subquery ranged over (r15 rewrite, the q17 pattern:
    // the decorrelated subquery re-ran the lineitem×supplier×nation×region
    // join a second time for every partkey before the selective p_size filter
    // could prune it — the window computes the identical per-partkey minimum
    // on the single already-filtered join, halving the lineitem scans/joins).
    // Equivalence: the outer join's rows for a partkey are exactly the
    // EUROPE-supplier lineitems of that part — the subquery's set — and min
    // over doubles is order-independent, so the comparison sees bit-identical
    // values in both engines.
    "tpch_q2" -> common(
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |    l_extendedprice / l_quantity AS unit_price,
        |    min(l_extendedprice / l_quantity)
        |      OVER (PARTITION BY p_partkey) AS min_price
        |  FROM part, supplier, lineitem, nation, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND p_size = 15
        |    AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE') priced
        |WHERE unit_price = min_price
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // shipping priority: 3-way join + group + top-K (o_orderpriority replaces
    // the missing o_shippriority)
    "tpch_q3" -> common(
      s"""SELECT l_orderkey,
         |  cast(sum($rev) as double) AS revenue,
         |  cast(o_orderdate as date) AS o_date, o_orderpriority
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING'
         |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND cast(o_orderdate as date) < date '1996-03-15'
         |  AND cast(l_shipdate as date) > date '1996-03-15'
         |GROUP BY l_orderkey, cast(o_orderdate as date), o_orderpriority
         |ORDER BY revenue DESC, o_date, l_orderkey
         |LIMIT 10""".stripMargin),

    // order priority checking: EXISTS correlated subquery
    "tpch_q4" -> common(
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE cast(o_orderdate as date) >= date '1996-07-01'
         |  AND cast(o_orderdate as date) < date '1996-10-01'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem
         |    WHERE l_orderkey = o_orderkey AND ${late(60)})
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin),

    // local supplier volume: 6-way join
    "tpch_q5" -> common(
      s"""SELECT n_name, cast(sum($rev) as double) AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND cast(o_orderdate as date) >= date '1996-01-01'
         |  AND cast(o_orderdate as date) < date '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),

    // revenue change forecast: single-table selective scan
    "tpch_q6" -> common(
      s"""SELECT cast(sum(${dec("l_extendedprice")} * ${dec("l_discount")}) as double) AS revenue
         |FROM lineitem
         |WHERE cast(l_shipdate as date) >= date '1996-01-01'
         |  AND cast(l_shipdate as date) < date '1997-01-01'
         |  AND l_discount >= 0.04 AND l_discount <= 0.06
         |  AND l_quantity < 24""".stripMargin),

    // volume shipping between two nations: self-joined dimension (n1/n2)
    "tpch_q7" -> common(
      s"""SELECT supp_nation, cust_nation, l_year, cast(sum(volume) as double) AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    cast(year(cast(l_shipdate as date)) as bigint) AS l_year, $rev AS volume
         |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
         |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
         |    AND c_custkey = o_custkey
         |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
         |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |    AND cast(l_shipdate as date) >= date '1996-01-01'
         |    AND cast(l_shipdate as date) <= date '1997-12-31'
         |) shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // national market share: 8-way join + conditional share ratio
    "tpch_q8" -> common(
      s"""SELECT o_year,
         |  cast(sum(CASE WHEN nation = 'NATION_3' THEN volume
         |                ELSE cast(0 as decimal(18,4)) END) as double)
         |    / cast(sum(volume) as double) AS mkt_share
         |FROM (
         |  SELECT cast(year(cast(o_orderdate as date)) as bigint) AS o_year, $rev AS volume,
         |    n2.n_name AS nation
         |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
         |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
         |    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
         |    AND cast(o_orderdate as date) >= date '1996-01-01'
         |    AND cast(o_orderdate as date) <= date '1997-12-31'
         |    AND p_type = 'ECONOMY'
         |) all_nations
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin),

    // product type profit by nation/year (p_retailprice replaces the missing
    // ps_supplycost as the cost term)
    "tpch_q9" -> common(
      s"""SELECT nation, o_year, cast(sum(amount) as double) AS sum_profit
         |FROM (
         |  SELECT n_name AS nation, cast(year(cast(o_orderdate as date)) as bigint) AS o_year,
         |    $rev - ${dec("p_retailprice")} * ${dec("l_quantity")} AS amount
         |  FROM part, supplier, lineitem, orders, nation
         |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
         |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
         |    AND p_name like '%widget%'
         |) profit
         |GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin),

    // returned item reporting: join + group + top-K by revenue
    "tpch_q10" -> common(
      s"""SELECT c_custkey, c_name, cast(sum($rev) as double) AS revenue,
         |  c_acctbal, n_name
         |FROM customer, orders, lineitem, nation
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND cast(o_orderdate as date) >= date '1996-10-01'
         |  AND cast(o_orderdate as date) < date '1997-01-01'
         |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin),

    // important stock identification: group-by + global threshold (lineitem
    // value replaces partsupp stock value). r15 rewrite: the HAVING scalar
    // subquery re-ran the identical 3-way join + full-table sum a second time;
    // the windowed sum-of-group-sums computes the same exact decimal total
    // from the already-aggregated rows — one pass over lineitem instead of
    // two. The window's single-partition exchange carries only the per-partkey
    // aggregate rows (the grouped result, ~0.02% of lineitem), vs. the
    // subquery's second full fact scan+join — the cheaper side at every scale.
    "tpch_q11" -> common(
      s"""SELECT l_partkey, cast(v as double) AS value
         |FROM (
         |  SELECT l_partkey,
         |    sum(${dec("l_extendedprice")} * ${dec("l_quantity")}) AS v,
         |    sum(sum(${dec("l_extendedprice")} * ${dec("l_quantity")})) OVER () AS tot
         |  FROM lineitem, supplier, nation
         |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |    AND n_name = 'NATION_5'
         |  GROUP BY l_partkey) valued
         |WHERE v > tot * 0.001
         |ORDER BY value DESC, l_partkey""".stripMargin),

    // shipping modes and order priority: conditional counting (l_returnflag
    // replaces the missing l_shipmode; lateness per `late`)
    "tpch_q12" -> common(
      s"""SELECT l_returnflag,
         |  cast(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
         |                THEN 1 ELSE 0 END) as bigint) AS high_line_count,
         |  cast(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
         |                THEN 1 ELSE 0 END) as bigint) AS low_line_count
         |FROM orders, lineitem
         |WHERE o_orderkey = l_orderkey
         |  AND l_returnflag IN ('A', 'R')
         |  AND ${late(30)}
         |  AND cast(l_shipdate as date) >= date '1996-01-01'
         |  AND cast(l_shipdate as date) < date '1997-01-01'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin),

    // customer distribution: outer join + count + distribution over counts
    // (o_orderpriority filter replaces the o_comment NOT LIKE)
    "tpch_q13" -> common(
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // promotion effect: conditional revenue ratio
    "tpch_q14" -> common(
      s"""SELECT cast(sum(CASE WHEN p_type = 'PROMO' THEN $rev
         |                     ELSE cast(0 as decimal(18,4)) END) as double) * 100
         |    / cast(sum($rev) as double) AS promo_revenue
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND cast(l_shipdate as date) >= date '1996-09-01'
         |  AND cast(l_shipdate as date) < date '1996-10-01'""".stripMargin),

    // top supplier: CTE + global MAX as a window over the CTE (r15 rewrite:
    // the scalar MAX subquery made Spark expand and aggregate the revenue CTE
    // twice — two lineitem scans; max(total_revenue) OVER () computes the
    // identical exact-decimal maximum on the grouped rows in one pass, and
    // the single-partition window exchange carries only supplier-count rows)
    "tpch_q15" -> common(
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, sum($rev) AS total_revenue
         |  FROM lineitem
         |  WHERE cast(l_shipdate as date) >= date '1996-01-01'
         |    AND cast(l_shipdate as date) < date '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, cast(total_revenue as double) AS total_revenue
         |FROM supplier, (
         |  SELECT supplier_no, total_revenue,
         |    max(total_revenue) OVER () AS max_revenue
         |  FROM revenue) ranked
         |WHERE s_suppkey = supplier_no
         |  AND total_revenue = max_revenue
         |ORDER BY s_suppkey""".stripMargin),

    // parts/supplier relationship: distinct count + NOT IN subquery
    // (supplier exclusion by acctbal replaces the comment LIKE screen)
    "tpch_q16" -> common(
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 15, 20, 25, 30, 36)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // small-quantity-order revenue: correlated AVG scalar subquery
    // (p_brand/p_type filter replaces the missing p_container)
    // Written as a window over the part-filtered lineitems rather than TPC-H's
    // correlated scalar subquery: the subquery decorrelates into an aggregate over
    // EVERY partkey (full lineitem shuffle) before the selective part filter can
    // cut it down, while this form broadcast-joins the few matching parts first and
    // only shuffles their lineitems for the per-part average — the plan that
    // survives a 100× lineitem. Same semantics: part is unique per partkey, so the
    // joined rows for a partkey are exactly its lineitems.
    "tpch_q17" -> common(
      s"""SELECT cast(sum(${dec("l_extendedprice")}) as double) / 7.0 AS avg_yearly
         |FROM (
         |  SELECT l_extendedprice, l_quantity,
         |    0.2 * (cast(sum(${dec("l_quantity")}) OVER (PARTITION BY l_partkey) as double)
         |           / count(*) OVER (PARTITION BY l_partkey)) AS qty_limit
         |  FROM lineitem JOIN part ON p_partkey = l_partkey
         |  WHERE p_brand = 'Brand#3' AND p_type = 'SMALL')
         |WHERE l_quantity < qty_limit""".stripMargin),

    // large volume customers: grouped HAVING joined directly (r15 rewrite:
    // the IN-subquery form aggregated lineitem for the membership test and
    // then joined + re-aggregated the FULL lineitem a second time for
    // total_qty; since o_orderkey is the orders PK, the outer group per order
    // is exactly the subquery's per-order sum — joining the HAVING aggregate
    // once yields identical rows with one lineitem aggregation instead of
    // two and no second fact join)
    "tpch_q18" -> common(
      s"""SELECT c_name, c_custkey, o_orderkey, cast(o_orderdate as date) AS o_date,
         |  o_totalprice, cast(total_qty as double) AS total_qty
         |FROM customer, orders, (
         |    SELECT l_orderkey, sum(${dec("l_quantity")}) AS total_qty
         |    FROM lineitem
         |    GROUP BY l_orderkey
         |    HAVING sum(${dec("l_quantity")}) > 150) big_orders
         |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 100""".stripMargin),

    // discounted revenue: disjunction of conjunctive range predicates
    // (p_size bands replace the missing p_container)
    "tpch_q19" -> common(
      s"""SELECT cast(sum($rev) as double) AS revenue
         |FROM lineitem, part
         |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#1'
         |    AND p_size >= 1 AND p_size <= 5 AND l_quantity >= 1 AND l_quantity <= 11)
         |  OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
         |    AND p_size >= 1 AND p_size <= 10 AND l_quantity >= 10 AND l_quantity <= 20)
         |  OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
         |    AND p_size >= 1 AND p_size <= 15 AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin),

    // potential part promotion: nested IN with grouped-HAVING inner query
    // (shipped volume replaces ps_availqty)
    "tpch_q20" -> common(
      s"""SELECT s_name, s_acctbal
         |FROM supplier, nation
         |WHERE s_suppkey IN (
         |    SELECT l_suppkey
         |    FROM lineitem, part
         |    WHERE l_partkey = p_partkey AND p_name like 'small%'
         |    GROUP BY l_suppkey, l_partkey
         |    HAVING sum(${dec("l_quantity")}) > 50)
         |  AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
         |ORDER BY s_name""".stripMargin),

    // suppliers who kept orders waiting — r16 single-pass rewrite of the
    // EXISTS + NOT-EXISTS double self-join: lineitem⨝orders is scanned ONCE
    // into per-(order, supplier) lateness rows, and the two correlated
    // subqueries collapse into one per-order supplier-count aggregate.
    // Equivalence (hash-verified at 1×/10×/30×, OPTIMIZATION_r16.md §3): for
    // a late l1 row, EXISTS(other supplier in the order) ⟺ the order has >= 2 distinct
    // suppliers, and NOT EXISTS(other LATE supplier) ⟺ the order's distinct
    // late-supplier set is exactly {l1.l_suppkey} ⟺ nlate = 1 (l1 itself is
    // late); l2/l3 ranged over the same o_orderkey, necessarily l1's F-status
    // order, so pre-filtering the aggregate to F orders drops nothing l1 can
    // see. The distinct counts are spelled as a TWO-LEVEL aggregate (dedupe
    // per (order, supplier) keeping max lateness, then plain count/sum) — no
    // DISTINCT aggregate, so no Expand row doubling AND a deterministic
    // unparse (Spark's multi-distinct rewrite orders its Expand projections
    // by expression id, which drifts across sessions and broke the golden
    // pin). Scale A/B of this exact text vs the EXISTS form (OPTIMIZATION_r16.md §3,
    // medians across two probe runs on a noisy box; shuffle bytes are
    // deterministic): 1× 1.06 vs 1.10–1.25 s, 10× 4.29 vs 4.87–15.89 s
    // (shuffle 102 vs 489 MB), 30× 4.61–7.67 vs 6.26–20.92 s (1165 vs
    // 1519 MB) — three lineitem roles vs one; the rewrite wins every decade.
    "tpch_q21" -> common(
      s"""WITH lo AS (
         |  SELECT l_orderkey, l_suppkey,
         |    CASE WHEN cast(l_shipdate as date) >
         |        cast(cast(o_orderdate as date) + interval '60' day as date)
         |      THEN 1 ELSE 0 END AS is_late
         |  FROM lineitem, orders
         |  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'),
         |agg AS (
         |  SELECT l_orderkey, count(*) AS nsupp, sum(sup_late) AS nlate
         |  FROM (
         |    SELECT l_orderkey, l_suppkey, max(is_late) AS sup_late
         |    FROM lo GROUP BY l_orderkey, l_suppkey) per_supp
         |  GROUP BY l_orderkey)
         |SELECT s_name, count(*) AS numwait
         |FROM lo l1, agg, supplier, nation
         |WHERE agg.l_orderkey = l1.l_orderkey AND l1.is_late = 1
         |  AND agg.nsupp >= 2 AND agg.nlate = 1
         |  AND s_suppkey = l1.l_suppkey
         |  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name
         |LIMIT 100""".stripMargin),

    // global sales opportunity: uncorrelated scalar AVG + anti-join NOT EXISTS
    // (nationkey bucket replaces the phone country code)
    "tpch_q22" -> common(
      s"""SELECT cntrycode, count(*) AS numcust,
         |  cast(sum(${dec("c_acctbal")}) as double) AS totacctbal
         |FROM (
         |  SELECT cast(c_nationkey % 5 as int) AS cntrycode, c_acctbal
         |  FROM customer
         |  WHERE c_nationkey % 5 IN (0, 1, 2)
         |    AND c_acctbal > (
         |      SELECT cast(sum(${dec("c_acctbal")}) as double) / count(*)
         |      FROM customer WHERE c_acctbal > 0)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM orders
         |      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         |) custsale
         |GROUP BY cntrycode
         |ORDER BY cntrycode""".stripMargin)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, (fn, _)) => n -> fn }.toMap ++ unparseQueries
  def oracles: Map[String, String] =
    defs.map { case (n, (_, o)) => n -> o }.toMap

  /** Cross-engine unparse proof at TPC-H breadth: for each `tpch_qN` a
    * `_unparse` variant whose Spark side executes the SOURCE query while the
    * DuckDB oracle is [[graft.semantics.SqlUnparser]]'s duckdb-dialect rendering
    * of the optimized plan, generated live at Verify time — so the driver's
    * correctness gate executes the unparser's own output in DuckDB and
    * hash-compares it against Spark executing the source. This is the breadth
    * the reference's transpile layer gets from its own TPC-H corpus
    * (`ibis-server/app/mdl/rewriter.py:51-63`,
    * `wren-core/sqllogictest/test_files/tpch/q*.slt.part`).
    */
  def unparseQueries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, (fn, _)) => s"${n}_unparse" -> fn }.toMap

  /** Live-generated DuckDB texts for [[unparseQueries]]. The emitted relation
    * names are path-independent (`basename.parquet` → bare table name), so the
    * manifest is deployed on the smallest SF purely to plan — the driver binds
    * the text to whatever SF it verifies at. It plans on the caller's active
    * session: a session builder here would rewrite that session's runtime
    * confs. A query the dialect cannot express is OMITTED (driver falls back
    * to a rows-only check) and logged — and SqlUnparserTpchSpec fails, so a
    * coverage regression cannot land silently.
    */
  def unparseOracles: Map[String, String] = {
    val session = GraftEngine.deployOnDir(SparkSession.active, manifest, "/root/testdata/sf0.001")
    defs.flatMap { case (n, (_, sql)) =>
      try Some(s"${n}_unparse" -> session.transformSql(sql, "duckdb"))
      catch { case e: Exception =>
        System.err.println(s"[unparse-oracle] $n: ${e.getMessage}"); None }
    }.toMap
  }

  /** TPC-H × dialect combos whose transliterated copies are outside DuckDB:
    * EMPTY since round 14 — the former q20×mysql hole (char_length) closed
    * with a lint-proven `char_length→length` rule, and the graduated-subset
    * trio (clickhouse/snowflake/mssql) pre-flighted 132/132 OK
    * (`tools/translit_preflight.py`, 2026-08-16). The set stays declared so a
    * future renderer change can re-adjudicate a combo loudly instead of
    * silently dropping it.
    */
  val translitSkip: Set[(String, String)] = Set.empty

  private val translitDialects =
    Seq("mysql", "bigquery", "oracle", "clickhouse", "snowflake", "mssql")

  /** TPC-H breadth for every non-executed dialect (round-12 ask #1, widened
    * round 13 to the golden-only trio, round 14 to the graduated-subset trio
    * — all 22 queries × 6 dialects now execute): the Spark side runs the
    * SOURCE query; the oracle is the dialect rendering passed through
    * [[graft.semantics.Transliterate]] — the fidelity-lossy, lint-pinned
    * spelling rewrite — executed by the driver's DuckDB gate. Join shape,
    * correlated EXISTS/NOT-EXISTS (q4/q21/q22), scalar subqueries
    * (q17/q22), semi/anti join kinds, OFFSET-FETCH limits, and the NULLS
    * machinery of all six renderers are hash-falsifiable at TPC-H breadth.
    * NOTE the r15/r16 single-pass rewrites NARROWED this coverage: q2/q11/q15
    * are now window-over-aggregate (no scalar subquery), q18 joins its
    * HAVING aggregate directly (no IN-subquery), and q21 is a per-order
    * distinct-count aggregate (no EXISTS/NOT-EXISTS since r16) —
    * subquery-decorrelation breadth now rides on q17/q22 (scalar),
    * q20/q16 (IN/NOT-IN), and q4/q22 (EXISTS/NOT-EXISTS); a reader must not
    * assume q2/q11/q15/q18/q21 still exercise those unparser paths.
    */
  def translitQueries: Map[String, (SparkSession, String) => DataFrame] =
    (for ((n, (fn, _)) <- defs; d <- translitDialects
          if !translitSkip((n, d)))
      yield s"${n}_translit_$d" -> fn).toMap

  def translitOracles: Map[String, String] = {
    val session = GraftEngine.deployOnDir(SparkSession.active, manifest, "/root/testdata/sf0.001")
    (for ((n, (_, sql)) <- defs; d <- translitDialects
          if !translitSkip((n, d)))
      yield
        try Some(s"${n}_translit_$d" ->
          graft.semantics.Transliterate(d, session.transformSql(sql, d)))
        catch { case e: Exception =>
          System.err.println(s"[translit-oracle] ${n}_$d: ${e.getMessage}"); None }
    ).flatten.toMap
  }
}
