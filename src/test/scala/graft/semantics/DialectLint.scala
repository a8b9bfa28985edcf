package graft.semantics

import scala.util.matching.Regex

import org.scalatest.Assertions._

/** Static lint over a rendered dialect text: rejects constructs the TARGET
  * engine's published grammar does not accept. Shared by [[DialectLintSpec]]
  * (the named corpus) and the property grammar's generation gates (100 random
  * seeds per dialect), so every text the unparser can emit in-sandbox passes
  * through these rules. String literals are stripped first so format strings
  * (`'%Y-%m-01'`) never false-positive; quoted identifiers stay visible.
  */
object DialectLint {

  /** Blank out single-quoted literals (with `''` escapes). GoogleSQL escapes
    * the quote as `\'` instead — its literals strip with the backslash rule,
    * and a stray `''`-doubled quote inside a GoogleSQL literal would leak
    * residue into the stripped text (that leak IS the lint for the round-11
    * quote-escaping fix: residue trips the `%`/quote rules downstream).
    */
  def stripLiterals(s: String, dialect: String = "ansi"): String =
    if (dialect == "bigquery") s.replaceAll("""'(?:[^'\\]|\\.)*'""", "''")
    else s.replaceAll("'(?:[^']|'')*'", "''")

  /** (label, pattern) pairs the stripped text must NOT match, per dialect.
    * Each label names a real grammar gap of the target engine — round 9's two
    * advisor findings (MySQL `VALUES (...)`, BigQuery `%`) were this class.
    */
  val forbidden: Map[String, Seq[(String, Regex)]] = Map(
    "duckdb" -> Seq(
      "backtick identifier (DuckDB quotes with \")" -> "`".r),
    "postgres" -> Seq(
      "backtick identifier (Postgres quotes with \")" -> "`".r),
    "mysql" -> Seq(
      "double-quoted identifier (MySQL default parses \"...\" as a string)" -> "\"".r,
      "VALUES row without ROW() constructor" -> raw"VALUES \(".r,
      "FETCH FIRST (MySQL has LIMIT only)" -> raw"FETCH\s+(FIRST|NEXT)".r,
      "ILIKE (not a MySQL operator)" -> raw"\bILIKE\b".r,
      ":: cast operator (Postgres-only)" -> raw"::".r,
      "NULLS FIRST/LAST (no such MySQL syntax)" -> raw"NULLS\s+(FIRST|LAST)".r,
      "date_trunc (no native MySQL function)" -> raw"\bdate_trunc\s*\(".r,
      "FULL JOIN (MySQL has no full outer join)" -> raw"FULL\s+(OUTER\s+)?JOIN".r,
      "IS NOT DISTINCT FROM (MySQL spells it <=>)" -> raw"DISTINCT FROM".r),
    "bigquery" -> Seq(
      "% operator (GoogleSQL has MOD() only)" -> raw"%".r,
      "double-quoted identifier (GoogleSQL quotes with `)" -> "\"".r,
      ":: cast operator" -> raw"::".r,
      "ILIKE (not a GoogleSQL operator)" -> raw"\bILIKE\b".r),
    "clickhouse" -> Seq(
      "FETCH FIRST/NEXT (ClickHouse has LIMIT only)" -> raw"FETCH\s+(FIRST|NEXT)".r,
      "IS NOT DISTINCT FROM (not in ClickHouse's grammar)" -> raw"DISTINCT FROM".r),
    "snowflake" -> Seq(
      "backtick identifier (Snowflake quotes with \")" -> "`".r),
    "mssql" -> Seq(
      "|| concat (T-SQL concatenates with +/CONCAT)" -> raw"\|\|".r,
      "LIMIT (T-SQL uses TOP / OFFSET-FETCH)" -> raw"\bLIMIT\b".r,
      "backtick identifier" -> "`".r,
      "ILIKE (not a T-SQL operator)" -> raw"\bILIKE\b".r,
      ":: cast operator" -> raw"::".r,
      "NULLS FIRST/LAST (no such T-SQL syntax)" -> raw"NULLS\s+(FIRST|LAST)".r,
      "ORDER BY closing a derived table without OFFSET/TOP (error 1033)" ->
        raw"""(ASC|DESC)\) """".r,
      // bare FLOAT is T-SQL double but float32 on other parsers — the
      // faithful spelling is the explicit FLOAT(53) (what lets m21-m23's
      // mssql texts execute in the DuckDB gate)
      "bare FLOAT cast (emit FLOAT(53): bare FLOAT is float32 elsewhere)" ->
        raw"AS FLOAT\)".r),
    "oracle" -> Seq(
      "LIMIT (Oracle uses FETCH FIRST)" -> raw"\bLIMIT\b".r,
      "unqualified star with other select items (ORA-00936)" -> raw"SELECT \*,".r,
      "AS before a table alias (Oracle rejects it)" -> raw"\) AS \"t(\d+|_out)\"".r,
      "backtick identifier" -> "`".r,
      "% operator (Oracle has MOD() only)" -> raw"%".r,
      ":: cast operator" -> raw"::".r,
      "ILIKE (not an Oracle operator)" -> raw"\bILIKE\b".r,
      "substring() (Oracle spells it SUBSTR)" -> raw"\bsubstring\s*\(".r,
      "IS NOT DISTINCT FROM (not in Oracle's grammar)" -> raw"DISTINCT FROM".r),
    "trino" -> Seq(
      ":: cast operator (Trino requires CAST)" -> raw"::".r,
      "backtick identifier (Trino quotes with \")" -> "`".r),
    "redshift" -> Seq(
      "backtick identifier (Redshift quotes with \")" -> "`".r))

  def lint(dialect: String, name: String, text: String): Unit = {
    val t = stripLiterals(text, dialect)
    assert(text.startsWith("SELECT"), s"$dialect/$name: text must start with SELECT")
    assert(t.count(_ == '(') == t.count(_ == ')'),
      s"$dialect/$name: unbalanced parentheses")
    assert(t.count(_ == '"') % 2 == 0, s"$dialect/$name: unbalanced \" quotes")
    assert(t.count(_ == '`') % 2 == 0, s"$dialect/$name: unbalanced backticks")
    for ((label, re) <- forbidden.getOrElse(dialect, Nil); m <- re.findFirstMatchIn(t)) {
      val at = m.start
      fail(s"$dialect/$name: $label near …${t.slice(math.max(0, at - 60), at + 40)}…")
    }
    // T-SQL's FETCH clause is only legal after an OFFSET clause
    if (dialect == "mssql" && t.contains("FETCH NEXT"))
      assert(t.contains("OFFSET"), s"$dialect/$name: FETCH NEXT without OFFSET")
  }
}
