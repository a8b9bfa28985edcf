package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result JSON formatting (A18): the reference renders Arrow results to JSON with
  * per-type formatting — bytes as hex, timestamps rendered in the session timezone,
  * floats as doubles — implemented by running a formatting SQL over the result
  * (`ibis-server/app/util.py:122-142`). Same idea here: one `select` of formatting
  * expressions (stays in codegen), then `toJSON`.
  */
object ResultFormatter {

  private def formatCol(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case BinaryType => lower(hex(c)).alias(f.name)
      case TimestampType | TimestampNTZType =>
        date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(f.name)
      case DateType => date_format(c, "yyyy-MM-dd").alias(f.name)
      case _: DecimalType => c.cast(StringType).alias(f.name) // exact text, no float drift
      case FloatType => c.cast(DoubleType).alias(f.name)
      case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
        c.cast(StringType).alias(f.name)
      // complex types render as real JSON (spliced verbatim into the response),
      // not Scala collection toString
      case _: ArrayType | _: StructType | _: MapType => to_json(c).alias(f.name)
      case _ => c
    }
  }

  /** Marker: values of these columns are already JSON text — splice, don't quote. */
  private def isJsonCol(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: StructType | _: MapType => true
    case _ => false
  }

  /** A JSON string literal: quote, backslash and every control character escaped. */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The formatted DataFrame (each row JSON-ready). */
  def formatted(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map(formatCol).toSeq: _*)

  private def jsonScalar(v: Any, rawJson: Boolean = false): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => n.toString
    case s: String if rawJson => s // to_json output: already JSON
    case other => jsonString(other.toString)
  }

  /** `{"columns": [...], "dtypes": {...}, "data": [[...], ...]}` — positional row
    * arrays aligned with `columns`, like the reference's query response
    * (`ibis-server/app/routers/v3/connector.py:70-247`); nulls are explicit.
    */
  /** Arrow type-name rendering for the `dtypes` map — the reference reports
    * `str(field.type)` of the pyarrow schema (`ibis-server/app/util.py:124`),
    * so API clients see `int64`/`timestamp[us]`/`decimal128(18, 2)`, not
    * Spark's `bigint`/`timestamp`/`decimal(18,2)`.
    */
  private def arrowTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "int8"
      case ShortType => "int16"
      case IntegerType => "int32"
      case LongType => "int64"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case BooleanType => "bool"
      case BinaryType => "binary"
      case DateType => "date32[day]"
      case TimestampType => "timestamp[us, tz=UTC]"
      case TimestampNTZType => "timestamp[us]"
      case d: DecimalType => s"decimal128(${d.precision}, ${d.scale})"
      case a: ArrayType => s"list<item: ${arrowTypeName(a.elementType)}>"
      case s: StructType =>
        s.fields.map(f => s"${f.name}: ${arrowTypeName(f.dataType)}")
          .mkString("struct<", ", ", ">")
      case m: MapType =>
        s"map<${arrowTypeName(m.keyType)}, ${arrowTypeName(m.valueType)}>"
      case NullType => "null"
      case other => other.simpleString
    }
  }

  def toJsonResponse(df: DataFrame, limit: Int = 1000): String = {
    val fdf = formatted(df.limit(limit))
    val raw = df.schema.fields.map(f => isJsonCol(f.dataType))
    val cols = df.schema.fields.map(f => jsonString(f.name)).mkString("[", ",", "]")
    val dtypes = df.schema.fields
      .map(f => s"${jsonString(f.name)}:${jsonString(arrowTypeName(f.dataType))}")
      .mkString("{", ",", "}")
    val rows = fdf.collect().map { r =>
      (0 until r.length).map(i => jsonScalar(r.get(i), raw(i))).mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    s"""{"columns":$cols,"dtypes":$dtypes,"data":$rows}"""
  }
}
