package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftEngine
import graft.GraftSession
import graft.mdl._
import graft.planner.{SemanticPlanner, TableResolver}

/** Runner for the reference's own sqllogictest suites
  * (`wren-core/sqllogictest/test_files/` — model/view/type `.slt` plus the
  * tpch `.slt.part` files): parses the
  * public sqllogictest format, replays every statement/query through a deployed
  * [[GraftSession]], and compares against the EXPECTED OUTPUT COMMITTED BY THE
  * REFERENCE (produced by its DataFusion runtime on its own fixtures) — the
  * directest possible evidence that this engine matches the reference's results
  * on the reference's own test queries.
  *
  * Context setup mirrors `sqllogictest/src/test_context.rs`:
  *   - ecommerce (`register_ecommerce_table`, test_context.rs:119-325): the three
  *     CSVs under `tests/resources/ecommerce` registered with inferred schemas,
  *     plus the ecommerce manifest (models with expression-backed columns,
  *     to-one/to-many calculated fields, relationships both ways, three views)
  *     re-declared in this engine's MDL classes.
  *   - tpch (`register_tpch_table`, test_context.rs:324-560): the seven parquet
  *     files under `tests/resources/tpch` and a 1:1 manifest. The reference also
  *     declares a `partsupp` model, but ships no `partsupp.parquet` fixture —
  *     its own harness cannot register that table either. q16 (which reads only
  *     the key columns) RUNS against a partsupp synthesized from the public
  *     bridge formula; the four files needing the RNG-stream value columns
  *     (q2, q9, q11, q20) are skipped with an explicit reason rather than
  *     silently — see [[SltRunner.PartsuppFiles]].
  *
  * Output cells are normalized exactly like the reference's
  * `sqllogictest/src/engine/conversion.rs`: NULL literal, true/false booleans,
  * `(empty)` for empty strings, numerics rounded to 12 decimal places with
  * trailing zeros stripped, timestamps in `yyyy-MM-ddTHH:mm:ss[.fff]` form.
  */
object Slt {

  sealed trait Record { def sql: String; def line: Int }
  final case class Statement(sql: String, line: Int, expectError: Boolean = false)
      extends Record
  final case class Query(
      types: String, rowsort: Boolean, sql: String, expected: Seq[String], line: Int)
      extends Record

  /** Parse one sqllogictest file (the public SLT format: `statement ok`,
    * `query <types> [rowsort]`, `----`-separated expected blocks, `#` comments,
    * blank-line record separators). `include` lines are ignored — callers
    * enumerate the included files directly.
    */
  def parse(text: String): Seq[Record] = {
    val lines = text.linesIterator.map(_.replaceAll("\\s+$", "")).toVector
    val out = Vector.newBuilder[Record]
    var i = 0
    def collectSql(stopAtSeparator: Boolean): (String, Boolean) = {
      val sql = new StringBuilder
      var sawSeparator = false
      var done = false
      while (i < lines.length && !done) {
        val l = lines(i)
        if (l.isEmpty) done = true
        else if (l == "----") { sawSeparator = true; done = true; i += 1 }
        else { sql.append(l).append('\n'); i += 1 }
      }
      (sql.result().trim.stripSuffix(";"), sawSeparator)
    }
    while (i < lines.length) {
      val l = lines(i)
      if (l.isEmpty || l.startsWith("#") || l.startsWith("include")) i += 1
      else if (l.startsWith("statement")) {
        val expectError = l.contains("error")
        val at = i; i += 1
        val (sql, _) = collectSql(stopAtSeparator = false)
        if (sql.nonEmpty) out += Statement(sql, at + 1, expectError)
      } else if (l.startsWith("query")) {
        val parts = l.split("\\s+")
        val types = if (parts.length > 1) parts(1) else ""
        val rowsort = parts.contains("rowsort")
        val at = i; i += 1
        val (sql, sawSep) = collectSql(stopAtSeparator = true)
        val expected = Vector.newBuilder[String]
        if (sawSep) {
          var done = false
          while (i < lines.length && !done) {
            val e = lines(i)
            if (e.isEmpty) done = true
            else { expected += e; i += 1 }
          }
        }
        if (sql.nonEmpty) out += Query(types, rowsort, sql, expected.result(), at + 1)
      } else i += 1 // stray line outside any record (defensive)
    }
    out.result()
  }

  // ------------------------------------------------------------- formatting

  /** One result cell, normalized per the reference's conversion.rs. */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case s: String => if (s.isEmpty) "(empty)" else s.replaceAll("\n+$", "")
    case d: java.math.BigDecimal => decimalStr(d)
    case d: BigDecimal => decimalStr(d.bigDecimal)
    case d: Double => floatStr(d)
    case f: Float => floatStr(f.toDouble, java.lang.Float.toString(f))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => timestampStr(t.toLocalDateTime)
    case t: java.time.LocalDateTime => timestampStr(t)
    case t: java.time.Instant =>
      timestampStr(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case r: Row => // struct cell: arrow renders {a: 1, b: x}; not used by the suites
      "{" + r.toSeq.map(cell).mkString(", ") + "}"
    case seq: scala.collection.Seq[_] => "[" + seq.map(cell).mkString(", ") + "]"
    case other => other.toString
  }

  /** `big_decimal_to_str` (conversion.rs:100-102): round to 12 decimal places,
    * strip trailing zeros, plain (non-scientific) rendering.
    */
  def decimalStr(d: java.math.BigDecimal): String = {
    val rounded =
      if (d.scale > 12) d.setScale(12, java.math.RoundingMode.HALF_EVEN) else d
    rounded.stripTrailingZeros.toPlainString
  }

  /** `f64_to_str`/`f32_to_str`: NaN/Infinity spelled out; finite values go
    * through the shortest-roundtrip string then decimal normalization.
    */
  def floatStr(d: Double, repr: String = null): String =
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else decimalStr(new java.math.BigDecimal(
      if (repr == null) java.lang.Double.toString(d) else repr))

  private def timestampStr(t: java.time.LocalDateTime): String = {
    val base = t.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    val nanos = t.getNano
    if (nanos == 0) base
    else base + "." + f"$nanos%09d".reverse.dropWhile(_ == '0').reverse
  }

  def formatRows(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString(" "))
}

object SltRunner {

  final case class Outcome(
      file: String, line: Int, sql: String, ok: Boolean, detail: String = "")

  final case class SkippedFile(file: String, reason: String)

  val DefaultRoot = "/root/reference/wren-core/sqllogictest"

  /** partsupp ships as a model in `register_tpch_mdl` but has no parquet fixture
    * in the reference repo (its own harness cannot register the table either).
    * The KEY columns are still reconstructible: dbgen assigns each part's four
    * suppliers by the deterministic bridge formula of TPC-H spec §4.2.3
    * (`ps_suppkey = (ps_partkey + i·(S/4 + (ps_partkey−1)/S)) mod S + 1`),
    * verified to reproduce q16's expected rows exactly — so q16 (which reads
    * only ps_partkey/ps_suppkey) runs on a synthesized partsupp. These four
    * files additionally need `ps_supplycost`/`ps_availqty`, which are
    * dbgen-RNG-stream columns that cannot be reconstructed without the fixture.
    */
  val PartsuppFiles: Set[String] =
    Set("q2.slt.part", "q9.slt.part", "q11.slt.part", "q20.slt.part")

  /** (file, record line) → reason. Documented engine-semantics divergences, not
    * bugs: each entry is a case where Spark's public arithmetic/type rules
    * differ from DataFusion's by definition, verified by hand against the true
    * mathematical value.
    */
  val KnownDiffs: Map[(String, Int), String] = Map(
    ("q1.slt.part", 19) ->
      ("decimal division rounding: Spark rounds HALF_UP, DataFusion truncates — " +
        "avg columns differ by 1 ulp in the 6th decimal (true avg_qty " +
        "25.5751546114…: Spark 25.575155, reference 25.575154)"),
    ("q14.slt.part", 19) ->
      ("decimal division result scale: Spark's decimal type lattice yields " +
        "scale 6 (15.486546); DataFusion's yields a wider scale that the slt " +
        "formatter rounds to 12 (15.486545812284) — same value to 6dp"),
    ("type.slt", 12) ->
      ("Spark timestamps are microsecond precision; a nanosecond literal " +
        "truncates to .123456 (SURVEY §1.2 documented divergence)"))

  /** Resolve a physical `tableReference` by its bare table name against the
    * session catalog — the slt contexts pre-register each fixture as a temp view
    * (the reference's `register_csv`/`register_parquet` analogue).
    */
  object BareNameResolver extends TableResolver {
    override def resolve(spark: SparkSession, ref: TableReference): DataFrame =
      spark.table(ref.table)
  }

  // ---------------------------------------------------------------- contexts

  private def vcol(name: String, tpe: String, srcExpr: String): Column =
    Column(name, tpe, expression = Some(srcExpr))
  private def calc(name: String, tpe: String, e: String): Column =
    Column(name, tpe, isCalculated = true, expression = Some(e))
  private def rel(name: String, model: String, relationship: String): Column =
    Column(name, model, relationship = Some(relationship))

  /** The ecommerce manifest of `register_ecommerce_mdl`
    * (sqllogictest/src/test_context.rs:134-325), re-declared in this engine's
    * MDL model: CamelCase expression-backed columns over the lowercase CSV
    * headers, a to-one calc (`Orders.Customer_state`), a two-hop to-one calc
    * (`Order_items.Customer_state`), a to-many aggregate calc
    * (`Orders.Totalprice`), and the three views.
    */
  def ecommerceManifest: Manifest = Manifest(
    catalog = "wrenai", schema = "public",
    models = List(
      Model("Customers",
        tableReference = Some(TableReference(Some("datafusion"), Some("public"), "customers")),
        primaryKey = Some("Id"),
        columns = List(
          vcol("City", "varchar", "city"),
          vcol("Id", "varchar", "id"),
          vcol("State", "varchar", "state"),
          calc("City_state", "varchar", "\"City\" || ' ' || \"State\""))),
      Model("Order_items",
        tableReference = Some(TableReference(Some("datafusion"), Some("public"), "order_items")),
        primaryKey = Some("Id"),
        columns = List(
          vcol("Freight_value", "double", "freight_value"),
          vcol("Id", "bigint", "id"),
          vcol("Item_number", "bigint", "item_number"),
          vcol("Order_id", "varchar", "order_id"),
          vcol("Price", "double", "price"),
          vcol("Product_id", "varchar", "product_id"),
          vcol("Shipping_limit_date", "varchar", "shipping_limit_date"),
          rel("Orders", "Orders", "Orders_order_items"),
          calc("Customer_state", "varchar", "\"Orders\".\"Customers\".\"State\""))),
      Model("Orders",
        tableReference = Some(TableReference(Some("datafusion"), Some("public"), "orders")),
        primaryKey = Some("Order_id"),
        columns = List(
          vcol("Approved_timestamp", "varchar", "approved_timestamp"),
          vcol("Customer_id", "varchar", "customer_id"),
          vcol("Delivered_carrier_date", "varchar", "delivered_carrier_date"),
          vcol("Estimated_delivery_date", "varchar", "estimated_delivery_date"),
          vcol("Order_id", "varchar", "order_id"),
          vcol("Purchase_timestamp", "varchar", "purchase_timestamp"),
          rel("Customers", "Customers", "Orders_customer"),
          calc("Customer_state", "varchar", "\"Customers\".\"State\""),
          rel("Order_items", "Order_items", "Orders_order_items"),
          calc("Totalprice", "double", "sum(\"Order_items\".\"Price\")"),
          calc("Customer_city", "varchar", "\"Customers\".\"City\"")))),
    relationships = List(
      Relationship("Orders_customer", List("Orders", "Customers"),
        JoinType.ManyToOne, "\"Orders\".\"Customer_id\" = \"Customers\".\"Id\""),
      Relationship("Orders_order_items", List("Orders", "Order_items"),
        JoinType.ManyToOne, "\"Orders\".\"Order_id\" = \"Order_items\".\"Order_id\"")),
    views = List(
      View("Customer_view", "select * from wrenai.public.\"Customers\""),
      View("Revenue_orders",
        "select \"Order_id\", sum(\"Price\") from wrenai.public.\"Order_items\" group by \"Order_id\""),
      View("Revenue_orders_alias",
        "select \"Order_id\" as \"Order_id\", sum(\"Price\") as \"Totalprice\" " +
          "from wrenai.public.\"Order_items\" group by \"Order_id\"")))

  /** The 1:1 tpch manifest of `register_tpch_mdl` (test_context.rs:343-560),
    * minus partsupp (no fixture — see [[PartsuppFiles]]). Declared types match
    * the parquet physical types (int32 / decimal(15,2) / date32 / utf8), which
    * is what the reference's LocalRuntime executes against.
    */
  def tpchManifest: Manifest = {
    def m(name: String, pk: String, cols: (String, String)*): Model =
      Model(name,
        tableReference = Some(TableReference(Some("datafusion"), Some("public"), name)),
        primaryKey = Some(pk),
        columns = cols.toList.map { case (n, t) => Column(n, t) })
    val dec = "decimal(15,2)"
    Manifest(
      catalog = "wrenai", schema = "public",
      models = List(
        m("customer", "c_custkey",
          "c_custkey" -> "int", "c_name" -> "varchar", "c_address" -> "varchar",
          "c_nationkey" -> "int", "c_phone" -> "varchar", "c_acctbal" -> dec,
          "c_mktsegment" -> "varchar", "c_comment" -> "varchar"),
        m("orders", "o_orderkey",
          "o_orderkey" -> "int", "o_custkey" -> "int", "o_orderstatus" -> "varchar",
          "o_totalprice" -> dec, "o_orderdate" -> "date", "o_orderpriority" -> "varchar",
          "o_clerk" -> "varchar", "o_shippriority" -> "int", "o_comment" -> "varchar"),
        m("lineitem", "l_orderkey",
          "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
          "l_linenumber" -> "int", "l_quantity" -> dec, "l_extendedprice" -> dec,
          "l_discount" -> dec, "l_tax" -> dec, "l_returnflag" -> "varchar",
          "l_linestatus" -> "varchar", "l_shipdate" -> "date", "l_commitdate" -> "date",
          "l_receiptdate" -> "date", "l_shipinstruct" -> "varchar",
          "l_shipmode" -> "varchar", "l_comment" -> "varchar"),
        m("part", "p_partkey",
          "p_partkey" -> "int", "p_name" -> "varchar", "p_mfgr" -> "varchar",
          "p_brand" -> "varchar", "p_type" -> "varchar", "p_size" -> "int",
          "p_container" -> "varchar", "p_retailprice" -> dec, "p_comment" -> "varchar"),
        m("supplier", "s_suppkey",
          "s_suppkey" -> "int", "s_name" -> "varchar", "s_address" -> "varchar",
          "s_nationkey" -> "int", "s_phone" -> "varchar", "s_acctbal" -> dec,
          "s_comment" -> "varchar"),
        m("nation", "n_nationkey",
          "n_nationkey" -> "int", "n_name" -> "varchar", "n_regionkey" -> "int",
          "n_comment" -> "varchar"),
        m("region", "r_regionkey",
          "r_regionkey" -> "int", "r_name" -> "varchar", "r_comment" -> "varchar"),
        Model("partsupp",
          tableReference = Some(TableReference(Some("datafusion"), Some("public"), "partsupp")),
          columns = List(
            Column("ps_partkey", "int"), Column("ps_suppkey", "int"),
            Column("ps_availqty", "int"), Column("ps_supplycost", "decimal(15,2)"),
            Column("ps_comment", "varchar")))))
  }

  /** Synthesized partsupp KEY columns (see [[PartsuppFiles]]): each part gets
    * four suppliers by the public dbgen bridge formula; the RNG-stream value
    * columns stay NULL and no runnable query reads them.
    */
  def partsuppKeysDF(spark: SparkSession, partCount: Long, suppCount: Long): DataFrame =
    spark.range(1, partCount + 1)
      .selectExpr("cast(id as int) as ps_partkey", "explode(array(0,1,2,3)) as i")
      .selectExpr(
        "ps_partkey",
        s"cast((ps_partkey + i * (($suppCount div 4) + ((ps_partkey - 1) div $suppCount)))" +
          s" % $suppCount + 1 as int) as ps_suppkey",
        "cast(null as int) as ps_availqty",
        "cast(null as decimal(15,2)) as ps_supplycost",
        "cast(null as string) as ps_comment")

  def ecommerceSession(spark: SparkSession, root: String): GraftSession = {
    val dir = s"$root/tests/resources/ecommerce"
    Seq("customers", "orders", "order_items").foreach { t =>
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$dir/$t.csv").createOrReplaceTempView(t)
    }
    GraftEngine.deploy(spark, ecommerceManifest, BareNameResolver)
  }

  def tpchSession(spark: SparkSession, root: String): GraftSession = {
    val dir = s"$root/tests/resources/tpch"
    Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region")
      .foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      }
    partsuppKeysDF(spark,
      spark.table("part").count(), spark.table("supplier").count())
      .createOrReplaceTempView("partsupp")
    GraftEngine.deploy(spark, tpchManifest, BareNameResolver)
  }

  // ---------------------------------------------------------------- running

  /** Replay one parsed record. The reference suites are written in ANSI SQL
    * (double-quoted identifiers), so the text goes through the same
    * quote normalization the MDL layer uses before hitting the session.
    */
  def runRecord(session: GraftSession, file: String, r: Slt.Record): Outcome = {
    val sql = SemanticPlanner.normalizeQuotes(r.sql)
    r match {
      case Slt.Statement(_, line, expectError) =>
        try {
          session.query(sql).collect()
          if (expectError) Outcome(file, line, r.sql, ok = false,
            "expected an error, but the statement succeeded")
          else Outcome(file, line, r.sql, ok = true)
        } catch {
          case e: Exception =>
            if (expectError) Outcome(file, line, r.sql, ok = true)
            else Outcome(file, line, r.sql, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case Slt.Query(types, rowsort, _, expected, line) =>
        try {
          val rows = session.query(sql).collect()
          if (rows.nonEmpty && types.nonEmpty && rows.head.length != types.length)
            Outcome(file, line, r.sql, ok = false,
              s"column count ${rows.head.length} != declared ${types.length}")
          else {
            val actual0 = Slt.formatRows(rows)
            val (a, e) =
              if (rowsort) (actual0.sorted, expected.sorted) else (actual0, expected)
            if (a == e) Outcome(file, line, r.sql, ok = true)
            else {
              val diff = a.zipAll(e, "<missing>", "<missing>")
                .collect { case (x, y) if x != y => s"  actual: $x\n  expect: $y" }
                .take(4).mkString("\n")
              Outcome(file, line, r.sql, ok = false,
                s"${a.size} rows vs ${e.size} expected\n$diff")
            }
          }
        } catch {
          case e: Exception =>
            Outcome(file, line, r.sql, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
  }

  def runFile(session: GraftSession, path: Path): Seq[Outcome] = {
    val text = new String(Files.readAllBytes(path), "UTF-8")
    val name = path.getFileName.toString
    Slt.parse(text).map(r => runRecord(session, name, r))
  }

  /** Run every runnable suite file under `root`. Returns (outcomes, skips). */
  def runAll(spark: SparkSession, root: String = DefaultRoot)
      : (Seq[Outcome], Seq[SkippedFile]) = {
    val testFiles = Paths.get(root, "test_files")
    val ecommerce = ecommerceSession(spark, root)
    val flat = Seq("model.slt", "view.slt", "type.slt")
      .map(testFiles.resolve).filter(Files.exists(_))
      .flatMap(runFile(ecommerce, _))
    val tpchDir = testFiles.resolve("tpch")
    val (tpchRunnable, tpchSkipped) =
      Files.list(tpchDir).iterator.asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".slt.part"))
        .sortBy(_.getFileName.toString)
        .partition(p => !PartsuppFiles(p.getFileName.toString))
    val tpch = tpchSession(spark, root)
    val tpchOutcomes = tpchRunnable.flatMap(runFile(tpch, _))
    val skips = tpchSkipped.map(p => SkippedFile(p.getFileName.toString,
      "partsupp model has no parquet fixture in the reference repo " +
        "(register_tpch_table cannot run these either)"))
    (flat ++ tpchOutcomes, skips)
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(DefaultRoot)
    val spark = graft.SparkProfile.session("graft-slt")
    val (outcomes, skips) = runAll(spark, root)
    val byFile = outcomes.groupBy(_.file).toSeq.sortBy(_._1)
    byFile.foreach { case (f, os) =>
      val bad = os.filterNot(_.ok)
      println(f"$f%-18s ${os.count(_.ok)}%3d/${os.size}%-3d passed")
      bad.foreach { o =>
        val known = KnownDiffs.get((o.file, o.line))
        val tag = if (known.isDefined) "XFAIL" else "FAIL"
        println(s"  $tag line ${o.line}: " +
          known.getOrElse(o.detail.linesIterator.mkString(" | ")))
      }
    }
    skips.foreach(s => println(s"SKIP ${s.file}: ${s.reason}"))
    val unexpected = outcomes.filter(o => !o.ok && !KnownDiffs.contains((o.file, o.line)))
    println(s"TOTAL ${outcomes.count(_.ok)}/${outcomes.size} passed, " +
      s"${outcomes.count(!_.ok) - unexpected.size} known diffs, " +
      s"${unexpected.size} unexpected failures, ${skips.size} files skipped")
    spark.stop()
    if (unexpected.nonEmpty) sys.exit(1)
  }
}
