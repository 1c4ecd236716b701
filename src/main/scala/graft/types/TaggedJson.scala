package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.JsonString

/** Lossless type-tagged JSON encoding — the reference's universal document
  * model (SURVEY §1.3). Every non-relational source row is erased to
  * `(id TEXT, data JSONB)` where `data` preserves types via `_type` tags:
  *
  *   - SQLite  (`src/sqlite/converter.rs:35-67`): BLOB →
  *     `{"_type":"blob","data":"<base64>"}`; non-finite REAL → string.
  *   - MongoDB (`src/mongodb/converter.rs:40-135`): ObjectId / DateTime /
  *     Binary / Regex / Timestamp / MinKey / MaxKey tags; Decimal128 → string.
  *   - MySQL   (`src/mysql/converter.rs:36-104`): non-UTF8 bytes →
  *     `{"_type":"binary",...}`; DATETIME → `{"_type":"datetime","value":ISO}`;
  *     TIME → `{"_type":"time","value":"[-]Nd HH:MM:SS.ffffff"}`.
  *
  * Implemented as Column trees codegen'd by Catalyst (built-ins plus the
  * native `graft_json_string` and `graft_json_double` expressions, no
  * UDFs): each builder returns a STRING column holding the JSON encoding
  * of one value; [[rowJson]] assembles the `{...}` object. Building JSON
  * text explicitly (instead of `to_json(struct(*))`) is what lets one
  * logical column carry number-or-string union encodings (the
  * non-finite-float rule).
  */
object TaggedJson {

  /** A JSON string literal from a string column (null → JSON null) via
    * the native `graft_json_string` expression ([[graft.functions.JsonString]]):
    * one pass over the UTF-8 bytes with FULL serde_json escape parity —
    * backslash, quote, the five shorthand control escapes (\b \t \n \f
    * \r), and \u00XX for every other char below 0x20 (serde escapes them
    * all — a stray 0x01 in a document must not produce invalid JSON). */
  def jsonString(c: Column): Column = call_function("graft_json_string", c)

  /** `"name":` — a field name quoted once, on the driver, with the same
    * escape rules as [[jsonString]]. */
  def fieldKey(name: String): Column = lit(JsonString.quote(name) + ":")

  /** Numbers: finite → bare number; NaN/±Infinity → JSON *string*
    * (`src/sqlite/converter.rs:43-51`, same rule in all three converters).
    * Both are rendered by the native `graft_json_double` expression
    * (registered by [[graft.functions.GraftExtensions]]) with
    * serde_json/Ryū parity — Spark's plain string cast would write `1.0E7`
    * where serde writes `10000000.0`. */
  def jsonDouble(c: Column): Column =
    when(c.isNull, lit("null"))
      .otherwise(call_function("graft_json_double", c.cast(DoubleType)))

  def jsonLong(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(c.cast(StringType))

  def jsonBool(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(c.cast(StringType)) // true/false

  /** SQLite BLOB tag (`src/sqlite/converter.rs:56-65`). */
  def blobTag(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"blob\",\"data\":\""),
             regexp_replace(base64(c), "\n", ""), lit("\"}")))

  /** MySQL non-UTF8 bytes tag (`src/mysql/converter.rs:70-76`). */
  def binaryTag(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"binary\",\"data\":\""),
             regexp_replace(base64(c), "\n", ""), lit("\"}")))

  /** Mongo ObjectId tag (`src/mongodb/converter.rs:69-75`); input = hex string. */
  def objectIdTag(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"objectid\",\"$oid\":\""), c, lit("\"}")))

  /** Mongo DateTime tag — epoch millis (`src/mongodb/converter.rs:76-83`). */
  def mongoDateTag(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"datetime\",\"$date\":"),
             unix_millis(c).cast(StringType), lit("}")))

  /** MySQL DATETIME tag — ISO-8601 with microseconds + Z
    * (`src/mysql/converter.rs:79-89`). */
  def mysqlDatetimeTag(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"datetime\",\"value\":\""),
             date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), lit("\"}")))

  /** Decimal128-style precision preservation: decimal → JSON string
    * (`src/mongodb/converter.rs:110-113`). */
  def decimalString(c: Column): Column =
    when(c.isNull, lit("null"))
      .otherwise(concat(lit("\""), c.cast(StringType), lit("\"")))

  /** Mongo Regex tag (`src/mongodb/converter.rs:94-101`). */
  def regexTag(pattern: Column, options: Column): Column =
    concat(lit("{\"_type\":\"regex\",\"pattern\":"), jsonString(pattern),
           lit(",\"options\":"), jsonString(options), lit("}"))

  /** BSON Timestamp tag — seconds + increment
    * (`src/mongodb/converter.rs:102-109`). */
  def bsonTimestampTag(t: Column, i: Column): Column =
    concat(lit("{\"_type\":\"timestamp\",\"t\":"), jsonLong(t),
           lit(",\"i\":"), jsonLong(i), lit("}"))

  /** MinKey / MaxKey tags (`src/mongodb/converter.rs:118-129`). */
  val minKeyTag: Column = lit("{\"_type\":\"minkey\"}")
  val maxKeyTag: Column = lit("{\"_type\":\"maxkey\"}")

  /** MySQL TIME tag: signed duration `[-]Nd HH:MM:SS.ffffff` from a
    * total-microseconds column (`src/mysql/converter.rs:91-102`). */
  def mysqlTimeTag(totalMicros: Column): Column = {
    val a = abs(totalMicros)
    val days = (a / 86400000000L).cast("long")
    val hours = (a % 86400000000L / 3600000000L).cast("long")
    val minutes = (a % 3600000000L / 60000000L).cast("long")
    val seconds = (a % 60000000L / 1000000L).cast("long")
    val micros = (a % 1000000L).cast("long")
    val sign = when(totalMicros < 0, lit("-")).otherwise(lit(""))
    when(totalMicros.isNull, lit("null")).otherwise(
      concat(lit("{\"_type\":\"time\",\"value\":\""),
        format_string("%s%dd %02d:%02d:%02d.%06d",
          sign, days, hours, minutes, seconds, micros),
        lit("\"}")))
  }

  /** Encode one column of a known Spark type to its tagged-JSON fragment.
    * `mongoStyle` switches timestamp encoding between the Mongo epoch-ms
    * tag and the MySQL ISO tag. */
  def encode(dt: DataType, c: Column, mongoStyle: Boolean = false): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => jsonLong(c)
    case FloatType | DoubleType                        => jsonDouble(c.cast(DoubleType))
    case BooleanType                                   => jsonBool(c)
    case StringType                                    => jsonString(c)
    case BinaryType                                    => blobTag(c)
    case _: DecimalType                                => decimalString(c)
    case TimestampType | TimestampNTZType =>
      if (mongoStyle) mongoDateTag(c) else mysqlDatetimeTag(c)
    case DateType    => jsonString(c.cast(StringType))
    case ArrayType(et, _) =>
      when(c.isNull, lit("null")).otherwise(
        concat(lit("["),
          array_join(transform(c, x => encode(et, x, mongoStyle)), ","),
          lit("]")))
    case st: StructType =>
      when(c.isNull, lit("null")).otherwise(
        concat(lit("{"),
          concat_ws(",", st.fields.map { f =>
            concat(fieldKey(f.name),
                   encode(f.dataType, c.getField(f.name), mongoStyle))
          }: _*),
          lit("}")))
    case _ => jsonString(c.cast(StringType)) // unknown → text fallback (writer.rs:565-569)
  }

  /** Whole-row JSON object: `{"col":<tagged>,...}` in schema order —
    * the analog of `sqlite_row_to_json` (`src/sqlite/converter.rs:95-105`). */
  def rowJson(df: DataFrame, mongoStyle: Boolean = false): Column = {
    val parts = df.schema.fields.map { f =>
      concat(fieldKey(f.name), encode(f.dataType, col(f.name), mongoStyle))
    }
    concat(
      lit("{"),
      concat_ws(",", parts: _*),
      lit("}"))
  }

  /** The uniform JSONB-model frame `(id, data, _source_type)` —
    * the shape created by `src/jsonb/writer.rs:61-71`. */
  def toJsonbModel(df: DataFrame, idCol: Column, sourceType: String,
                   mongoStyle: Boolean = false): DataFrame = {
    df.select(
      idCol.cast(StringType).as("id"),
      rowJson(df, mongoStyle).as("data"),
      lit(sourceType).as("_source_type"))
  }
}
