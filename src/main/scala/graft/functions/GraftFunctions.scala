package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Gap-fill function surface: the reference registers ~150 scalar / 36 aggregate /
  * 11 window functions (`wren-core/core/src/mdl/function/scalar/mod.rs:20-194`,
  * `aggregate/mod.rs:11-51`, `window/mod.rs:5-19`); nearly all map 1:1 to Spark
  * built-ins. This module supplies the remainder and a queryable listing for the
  * `/functions` API (`ibis-server/app/routers/v3/connector.py:428-479`).
  *
  * Mechanism: SQL scalar functions (`CREATE FUNCTION ... RETURN <expr>`) — Catalyst
  * inlines their bodies into the caller's plan, so they are optimizer-visible and
  * whole-stage-codegen'd, unlike JVM UDFs which would be black boxes. Aggregates that
  * only differ from a Spark built-in by name/argument order are registered as thin
  * aliases at call sites (see `weightedPercentile`).
  */
object GraftFunctions {

  final case class FnSpec(
      name: String, kind: String, signature: String, returns: String, description: String)

  /** Functions this module registers (gap-fills). */
  val registered: Seq[FnSpec] = Seq(
    FnSpec("date_bin", "scalar", "(stride interval|bigint_seconds, source timestamp, origin timestamp)",
      "timestamp", "Floor `source` to the stride grid anchored at `origin` (DataFusion date_bin; day-time and whole-month interval strides, or bigint seconds)"),
    FnSpec("strftime", "scalar", "(t timestamp, fmt string)", "string",
      "chrono/strftime-style formatting (full token set incl. %a %A %b %B %j %I %p %f %z), the reference's to_char (to_char.rs:1-83)"),
    FnSpec("to_char", "scalar", "(t timestamp, fmt string)", "string",
      "Alias of strftime (the reference's primary name, to_char.rs:42)"),
    FnSpec("cosine_similarity", "scalar", "(a array<float|double>, b array<float|double>)",
      "double", "Codegen'd fused-loop cosine similarity (native Expression, VectorExpressions.scala)"),
    FnSpec("dot_product", "scalar", "(a array<float|double>, b array<float|double>)",
      "double", "Codegen'd dot product with deterministic left-to-right accumulation"),
    FnSpec("approx_percentile_cont_with_weight", "aggregate", "(x double, w double, p double)",
      "double", "Weighted approximate percentile via a mergeable centroid sketch (bounded memory per group; DataFusion aggregate/mod.rs:40)"),
    FnSpec("nth_value_agg", "aggregate", "(x double, n bigint)", "double",
      "n-th smallest value per group (negative n counts from the largest); O(|n|) state (DataFusion nth_value aggregate, aggregate/mod.rs:49)"),
    FnSpec("to_local_time", "scalar", "(t timestamp)", "timestamp_ntz",
      "Strip the timezone, keeping wall-clock fields"),
    FnSpec("to_unixtime", "scalar", "(t timestamp)", "double",
      "Seconds (fractional) since the epoch"),
    FnSpec("substr_index", "scalar", "(s string, delim string, cnt int)", "string",
      "Alias of substring_index"),
    FnSpec("iszero", "scalar", "(x double)", "boolean", "x = 0"),
    FnSpec("digest", "scalar", "(data string, algo string)", "string",
      "md5/sha1/sha224/sha256/sha384/sha512 dispatch by algorithm name"),
    FnSpec("generate_series", "scalar", "(start bigint, stop bigint)", "array<bigint>",
      "Inclusive integer series; explode() for the table-function form"),
    FnSpec("get_path", "scalar", "(json string, path string)", "string",
      "JSON path extraction with dotted/bracket paths (Snowflake get_path)"),
    FnSpec("as_varchar", "scalar", "(json string)", "string", "JSON value as text (quotes stripped)"),
    FnSpec("as_char", "scalar", "(json string)", "string", "Alias of as_varchar"),
    FnSpec("as_integer", "scalar", "(json string)", "bigint", "JSON value as integer or NULL"),
    FnSpec("as_double", "scalar", "(json string)", "double", "JSON value as double or NULL"),
    FnSpec("as_real", "scalar", "(json string)", "double", "Alias of as_double"),
    FnSpec("as_decimal", "scalar", "(json string)", "decimal(38,10)", "JSON value as decimal or NULL"),
    FnSpec("as_boolean", "scalar", "(json string)", "boolean", "JSON value as boolean or NULL"),
    FnSpec("as_date", "scalar", "(json string)", "date", "JSON value as date or NULL"),
    FnSpec("as_timestamp", "scalar", "(json string)", "timestamp", "JSON value as timestamp or NULL"),
    FnSpec("as_array", "scalar", "(json string)", "array<string>", "JSON array as array of text"),
    FnSpec("as_object", "scalar", "(json string)", "string", "The value if it is a JSON object, else NULL"),
    FnSpec("is_array", "scalar", "(json string)", "boolean", "True when the value is a JSON array"),
    FnSpec("is_object", "scalar", "(json string)", "boolean", "True when the value is a JSON object"),
    FnSpec("is_integer", "scalar", "(json string)", "boolean", "True when the value is an integer"),
    FnSpec("is_double", "scalar", "(json string)", "boolean", "True when the value is numeric"),
    FnSpec("is_boolean", "scalar", "(json string)", "boolean", "True when the value is true/false"),
    FnSpec("is_varchar", "scalar", "(json string)", "boolean", "True when the value is a JSON string"),
    FnSpec("is_null_value", "scalar", "(json string)", "boolean", "True when the value is JSON null"),
    FnSpec("as_number", "scalar", "(json string)", "decimal(38,10)", "JSON value as number or NULL"),
    FnSpec("as_binary", "scalar", "(json string)", "binary", "JSON hex string as binary or NULL"),
    FnSpec("as_timestamp_tz", "scalar", "(json string)", "timestamp", "JSON value as tz-aware timestamp (Spark timestamps carry the session zone)"),
    FnSpec("is_char", "scalar", "(json string)", "boolean", "Alias of is_varchar"),
    FnSpec("is_real", "scalar", "(json string)", "boolean", "Alias of is_double"),
    FnSpec("is_date", "scalar", "(json string)", "boolean", "True when the value parses as a date"),
    FnSpec("is_timestamp", "scalar", "(json string)", "boolean", "True when the value parses as a timestamp"),
    FnSpec("is_timestamp_tz", "scalar", "(json string)", "boolean", "Alias of is_timestamp"),
    FnSpec("is_binary", "scalar", "(json string)", "boolean", "True when the value is a hex binary string"),
    FnSpec("sha224", "scalar", "(s string)", "string", "sha2(s, 224) (DataFusion crypto name parity)"),
    FnSpec("sha256", "scalar", "(s string)", "string", "sha2(s, 256)"),
    FnSpec("sha384", "scalar", "(s string)", "string", "sha2(s, 384)"),
    FnSpec("sha512", "scalar", "(s string)", "string", "sha2(s, 512)"),
    FnSpec("to_timestamp_seconds", "scalar", "(x bigint)", "timestamp", "Epoch seconds to timestamp"),
    FnSpec("to_timestamp_millis", "scalar", "(x bigint)", "timestamp", "Epoch millis to timestamp"),
    FnSpec("to_timestamp_micros", "scalar", "(x bigint)", "timestamp", "Epoch micros to timestamp"),
    FnSpec("to_timestamp_nanos", "scalar", "(x bigint)", "timestamp", "Epoch nanos to timestamp (truncated to Spark's µs)"),
    FnSpec("regexp_match", "scalar", "(s string, re string)", "array<string>", "All regex matches (DataFusion regexp_match)"),
    FnSpec("string_to_array", "scalar", "(s string, delim string)", "array<string>", "Split on a literal (non-regex) delimiter"),
    FnSpec("to_hex", "scalar", "(x bigint)", "string", "Lowercase hex rendering"),
    FnSpec("strpos", "scalar", "(s string, sub string)", "int", "1-based substring position, 0 when absent"),
    FnSpec("gcd", "scalar", "(a bigint, b bigint)", "bigint", "Greatest common divisor (native expression)"),
    FnSpec("lcm", "scalar", "(a bigint, b bigint)", "bigint", "Least common multiple (exact, overflow-safe)"),
    FnSpec("array_distance", "scalar", "(a array<float|double>, b array<float|double>)", "double",
      "Euclidean distance via the native dot kernels"))

  /** Reference functions that are Spark built-ins under the same or a documented name
    * (kept for /functions listing parity; nothing to register).
    */
  val builtinMappings: Seq[FnSpec] = Seq(
    FnSpec("approx_distinct", "aggregate", "(x any)", "bigint", "Spark approx_count_distinct (HLL)"),
    FnSpec("approx_median", "aggregate", "(x numeric)", "double", "Spark approx_percentile(x, 0.5)"),
    FnSpec("approx_percentile_cont", "aggregate", "(x numeric, p double)", "double",
      "Spark approx_percentile"),
    FnSpec("string_agg", "aggregate", "(x string, sep string)", "string",
      "Spark string_agg / listagg ... WITHIN GROUP (ORDER BY ...)"),
    FnSpec("array_agg", "aggregate", "(x any)", "array", "Spark array_agg/collect_list"),
    FnSpec("arrow_typeof", "scalar", "(x any)", "string", "Spark typeof"),
    FnSpec("nth_value", "window", "(x any, n int)", "any", "Spark nth_value window function"))

  /** Pipeline text/vector kernels exposed to SQL (beyond the reference's surface):
    * the same native expressions the Scala operators ride, callable as plain SQL
    * functions so spark-sql / JDBC / pyspark users reach them without the Scala API.
    */
  val pipelineKernels: Seq[FnSpec] = Seq(
    FnSpec("stopword_langid", "scalar", "(text string)", "string",
      "Stopword-count language ID over {en,de,fr,es,zh} (native one-pass expression)"),
    FnSpec("minhash_words", "scalar", "(words array<string>[, n int, k int])", "array<bigint>",
      "k MinHash signature values over word n-gram shingles, one pass, no shuffle"),
    FnSpec("simhash_words", "scalar", "(words array<string>[, n int, bits int])", "bigint",
      "SimHash bit signature over word n-gram shingles (near-dup fingerprint)"),
    FnSpec("shingle_hashes", "scalar", "(words array<string>[, n int])", "array<bigint>",
      "Distinct 60-bit hashes of word n-gram shingles (Jaccard set representation)"),
    FnSpec("window_hashes", "scalar", "(words array<string>, window int)", "array<bigint>",
      "Rolling window hashes for substring-duplication span detection"),
    FnSpec("bpe_count", "scalar", "(words array<string>)", "bigint",
      "Exact BPE token count under the pretrained merge table (greedy merge, codegen'd)"),
    FnSpec("bpe_tokens", "scalar", "(words array<string>)", "string",
      "Space-joined BPE subword sequence under the pretrained merge table"),
    FnSpec("zorder_key", "scalar", "(c1 int, ..., cn int, bits int)", "bigint",
      "Morton (Z-order) interleave of bucketed ints — data-skipping sort key"))

  def listing: Seq[FnSpec] = registered ++ builtinMappings ++ pipelineKernels

  /** CSV-driven function registry (A20): the reference loads per-dialect remote
    * function lists from CSV `function_type,name,return_type,param_names,param_types,
    * description` (wren-core-py/src/context.rs:494-555). Declared functions join the
    * listing; on Spark they execute locally when the name resolves, so no bypass
    * machinery is needed.
    */
  /** Minimal RFC-4180-ish field split: respects double-quoted fields (which may
    * contain commas) and doubled-quote escapes.
    */
  private def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQ) {
        if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (ch == '"') inQ = false
        else cur += ch
      } else ch match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case c => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.map(_.trim).toArray
  }

  def loadCsvRegistry(path: String): Seq[FnSpec] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    lines match {
      case header :: rows =>
        val cols = splitCsv(header).map(_.toLowerCase)
        def idx(name: String) = cols.indexOf(name)
        rows.filter(_.trim.nonEmpty).map { line =>
          val f = splitCsv(line)
          def at(i: Int) = if (i >= 0 && i < f.length) f(i) else ""
          FnSpec(
            name = at(idx("name")),
            kind = at(idx("function_type")).toLowerCase match {
              case "" => "scalar"; case k => k
            },
            signature = s"(${at(idx("param_types"))})",
            returns = at(idx("return_type")),
            description = at(idx("description")))
        }
      case Nil => Nil
    }
  }

  /** Exact weighted percentile via Spark's built-in `percentile(x, p, w)` (argument
    * order adapted). Exact beats approximate at equal cost until group cardinality is
    * extreme; for those, `approx_percentile_cont_with_weight` (the bounded-memory
    * sketch in [[Aggregators]]) is the scale path.
    */
  def weightedPercentile(x: Column, w: Column, p: Double): Column =
    call_function("percentile", x, lit(p), w)

  /** Generic array_resize for any element type (SQL registration would pin the
    * element type, so the generic form is Scala-API only, like the reference's
    * typed-variant registrations).
    */
  def arrayResize(a: Column, n: Column, pad: Column): Column =
    when(size(a) >= n, slice(a, lit(1), n))
      .otherwise(concat(a, array_repeat(pad, (n - size(a)).cast("int"))))

  /** SQL builders for [[pipelineKernels]] — shared between session registration
    * ([[register]]) and the config-driven injection path
    * ([[graft.GraftExtensions]], `spark.sql.extensions=graft.GraftExtensions`).
    * Tuning arguments (n, k, bits, window) must be integer literals: they become
    * part of the generated code, not per-row inputs.
    */
  val kernelBuilders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    def intLit(e: Expression, fn: String, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
      case Literal(v: Short, _) => v.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: $what must be an Int-range integer literal (it is compiled into the kernel)")
    }
    def arity(fn: String, args: Seq[Expression], min: Int, max: Int): Unit =
      if (args.length < min || args.length > max)
        throw new IllegalArgumentException(
          s"$fn takes $min to $max arguments, got ${args.length}")
    Seq(
      "stopword_langid" -> ((args: Seq[Expression]) => {
        arity("stopword_langid", args, 1, 1)
        StopwordLangId(args.head)
      }),
      "minhash_words" -> ((args: Seq[Expression]) => {
        arity("minhash_words", args, 1, 3)
        MinHashWords(args.head,
          n = if (args.length > 1) intLit(args(1), "minhash_words", "n") else 3,
          k = if (args.length > 2) intLit(args(2), "minhash_words", "k") else 32)
      }),
      "simhash_words" -> ((args: Seq[Expression]) => {
        arity("simhash_words", args, 1, 3)
        SimHashWords(args.head,
          n = if (args.length > 1) intLit(args(1), "simhash_words", "n") else 3,
          bits = if (args.length > 2) intLit(args(2), "simhash_words", "bits") else 60)
      }),
      "shingle_hashes" -> ((args: Seq[Expression]) => {
        arity("shingle_hashes", args, 1, 2)
        ShingleHashes(args.head,
          n = if (args.length > 1) intLit(args(1), "shingle_hashes", "n") else 3)
      }),
      "window_hashes" -> ((args: Seq[Expression]) => {
        arity("window_hashes", args, 2, 2)
        WindowHashes(args.head, intLit(args(1), "window_hashes", "window"))
      }),
      "bpe_count" -> ((args: Seq[Expression]) => {
        arity("bpe_count", args, 1, 1)
        BpeCountWords(args.head, Bpe.pretrainedMerges)
      }),
      "bpe_tokens" -> ((args: Seq[Expression]) => {
        arity("bpe_tokens", args, 1, 1)
        BpeTokensWords(args.head, Bpe.pretrainedMerges)
      }))
  }

  /** Sessions [[registerOnce]] has registered (weak: a dropped session leaves). */
  private val registeredSessions =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** [[register]] unless this session was already registered here — every deploy
    * calls it, and a re-register replaces (and logs a WARN for) each function.
    * Keyed on the session, not on function names: `to_char` deliberately shadows a
    * Spark builtin, so a name probe would skip it. Cloned sessions inherit the
    * functions and need no call.
    */
  def registerOnce(spark: SparkSession): Unit = registeredSessions.synchronized {
    if (!registeredSessions.contains(spark)) {
      register(spark)
      registeredSessions.add(spark)
    }
  }

  /** Register every gap-fill as a temporary SQL function on the session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    kernelBuilders.foreach { case (name, builder) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, name, builder)
    }
    // Native plan-time builders (chrono translation / interval-stride dispatch
    // cannot be expressed as a SQL-function body — they need the stride's TYPE).
    Aggregators.register(spark)
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "cosine_similarity",
      args => CosineSimilarity(args(0), args(1)))
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "dot_product",
      args => DotProduct(args(0), args(1)))
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "date_bin", ChronoFormat.dateBinBuilder)
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "strftime", ChronoFormat.strftimeBuilder)
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "to_char", ChronoFormat.strftimeBuilder)
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "gcd", args => Gcd(args(0), args(1)))
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "lcm", args => Lcm(args(0), args(1)))
    // DataFusion array_distance (euclidean): ‖a−b‖ = sqrt(a·a + b·b − 2·a·b) over the
    // native dot kernels — works for any float/double array without pinning a type.
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "array_distance", args => {
      val br = org.apache.spark.sql.graft.Bridge
      val s = SparkSession.active
      // cast up front so decimal/int array literals work; float/double arrays are a
      // no-op cast that Catalyst elides
      val a = br.column(args(0)).cast("array<double>")
      val b = br.column(args(1)).cast("array<double>")
      def dp(x: Column, y: Column): Column =
        br.column(DotProduct(br.toExpression(s, x), br.toExpression(s, y)))
      br.toExpression(s, sqrt(dp(a, a) + dp(b, b) - lit(2.0) * dp(a, b)))
    })
    // zorder_key(c1, ..., cn, bits): Morton interleave for data-skipping layouts
    // (operators.ScaleLayout); last arg is the per-dimension bit width literal.
    org.apache.spark.sql.graft.Bridge.registerFunction(spark, "zorder_key", args => {
      require(args.size >= 2, "zorder_key(col, ..., bits) needs a column and a bit width")
      val bits = args.last match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"zorder_key: bits must be an integer literal, got $other")
      }
      InterleaveBits(args.init, bits)
    })
    val stmts = Seq(
      """CREATE OR REPLACE TEMPORARY FUNCTION to_local_time(t TIMESTAMP)
        |RETURNS TIMESTAMP_NTZ RETURN cast(t as timestamp_ntz)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(t TIMESTAMP)
        |RETURNS DOUBLE RETURN unix_micros(t) / 1e6""",
      """CREATE OR REPLACE TEMPORARY FUNCTION substr_index(s STRING, delim STRING, cnt INT)
        |RETURNS STRING RETURN substring_index(s, delim, cnt)""",
      // DataFusion name-parity one-liners (scalar/mod.rs:39-143)
      """CREATE OR REPLACE TEMPORARY FUNCTION sha224(s STRING)
        |RETURNS STRING RETURN sha2(s, 224)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION sha256(s STRING)
        |RETURNS STRING RETURN sha2(s, 256)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION sha384(s STRING)
        |RETURNS STRING RETURN sha2(s, 384)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION sha512(s STRING)
        |RETURNS STRING RETURN sha2(s, 512)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_seconds(x BIGINT)
        |RETURNS TIMESTAMP RETURN timestamp_seconds(x)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_millis(x BIGINT)
        |RETURNS TIMESTAMP RETURN timestamp_millis(x)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_micros(x BIGINT)
        |RETURNS TIMESTAMP RETURN timestamp_micros(x)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_nanos(x BIGINT)
        |RETURNS TIMESTAMP RETURN timestamp_micros(x div 1000)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION regexp_match(s STRING, re STRING)
        |RETURNS ARRAY<STRING> RETURN regexp_extract_all(s, re, 0)""",
      // literal (non-regex) delimiter split, like DataFusion's string_to_array
      """CREATE OR REPLACE TEMPORARY FUNCTION string_to_array(s STRING, delim STRING)
        |RETURNS ARRAY<STRING> RETURN split(s, concat('\\Q', delim, '\\E'))""",
      """CREATE OR REPLACE TEMPORARY FUNCTION to_hex(x BIGINT)
        |RETURNS STRING RETURN lower(hex(x))""",
      """CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING)
        |RETURNS INT RETURN instr(s, sub)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION iszero(x DOUBLE)
        |RETURNS BOOLEAN RETURN x = cast(0 as double)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION digest(data STRING, algo STRING)
        |RETURNS STRING
        |RETURN CASE lower(algo)
        |  WHEN 'md5' THEN md5(data)
        |  WHEN 'sha1' THEN sha1(data)
        |  WHEN 'sha224' THEN sha2(data, 224)
        |  WHEN 'sha256' THEN sha2(data, 256)
        |  WHEN 'sha384' THEN sha2(data, 384)
        |  WHEN 'sha512' THEN sha2(data, 512)
        |END""",
      """CREATE OR REPLACE TEMPORARY FUNCTION generate_series(start BIGINT, stop BIGINT)
        |RETURNS ARRAY<BIGINT> RETURN sequence(start, stop)""",
      // Snowflake-style JSON accessors (reference signatures: scalar/json.rs:15-532).
      // `get_path` takes dotted/bracketed paths relative to the document root.
      """CREATE OR REPLACE TEMPORARY FUNCTION get_path(j STRING, p STRING)
        |RETURNS STRING RETURN get_json_object(j, concat('$.', p))""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_varchar(j STRING)
        |RETURNS STRING
        |RETURN CASE WHEN j IS NULL OR j = 'null' THEN NULL
        |  WHEN j LIKE '"%"' THEN substring(j, 2, length(j) - 2) ELSE j END""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_char(j STRING)
        |RETURNS STRING RETURN as_varchar(j)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_integer(j STRING)
        |RETURNS BIGINT RETURN try_cast(j AS BIGINT)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_double(j STRING)
        |RETURNS DOUBLE RETURN try_cast(j AS DOUBLE)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_real(j STRING)
        |RETURNS DOUBLE RETURN try_cast(j AS DOUBLE)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_decimal(j STRING)
        |RETURNS DECIMAL(38,10) RETURN try_cast(j AS DECIMAL(38,10))""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_boolean(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(j AS BOOLEAN)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_date(j STRING)
        |RETURNS DATE RETURN try_cast(as_varchar(j) AS DATE)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_timestamp(j STRING)
        |RETURNS TIMESTAMP RETURN try_cast(as_varchar(j) AS TIMESTAMP)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_number(j STRING)
        |RETURNS DECIMAL(38,10) RETURN try_cast(j AS DECIMAL(38,10))""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_binary(j STRING)
        |RETURNS BINARY RETURN try_to_binary(as_varchar(j), 'hex')""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_timestamp_tz(j STRING)
        |RETURNS TIMESTAMP RETURN try_cast(as_varchar(j) AS TIMESTAMP)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_array(j STRING)
        |RETURNS ARRAY<STRING>
        |RETURN CASE WHEN ltrim(j) LIKE '[%' THEN from_json(j, 'array<string>') END""",
      """CREATE OR REPLACE TEMPORARY FUNCTION as_object(j STRING)
        |RETURNS STRING RETURN CASE WHEN ltrim(j) LIKE '{%' THEN j END""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_array(j STRING)
        |RETURNS BOOLEAN RETURN j IS NOT NULL AND ltrim(j) LIKE '[%'""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_object(j STRING)
        |RETURNS BOOLEAN RETURN j IS NOT NULL AND ltrim(j) LIKE '{%'""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_integer(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(j AS BIGINT) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_double(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(j AS DOUBLE) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_boolean(j STRING)
        |RETURNS BOOLEAN RETURN j IN ('true', 'false')""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_varchar(j STRING)
        |RETURNS BOOLEAN RETURN j IS NOT NULL AND j LIKE '"%"'""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_null_value(j STRING)
        |RETURNS BOOLEAN RETURN j = 'null'""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_char(j STRING)
        |RETURNS BOOLEAN RETURN is_varchar(j)""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_real(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(j AS DOUBLE) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_date(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(as_varchar(j) AS DATE) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_timestamp(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(as_varchar(j) AS TIMESTAMP) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_timestamp_tz(j STRING)
        |RETURNS BOOLEAN RETURN try_cast(as_varchar(j) AS TIMESTAMP) IS NOT NULL""",
      """CREATE OR REPLACE TEMPORARY FUNCTION is_binary(j STRING)
        |RETURNS BOOLEAN RETURN try_to_binary(as_varchar(j), 'hex') IS NOT NULL""")
    stmts.foreach(s => spark.sql(s.stripMargin))
  }
}
