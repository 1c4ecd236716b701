package graft.jsonb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{IdExtraction, TaggedJson}

/** Mongo → JSONB document pipeline — the reference's
  * `convert_collection_to_jsonb` (`src/mongodb/converter.rs:214-281`):
  * id extraction with the `_id` BSON-type dispatch, then whole-document
  * tagged-JSON encoding.
  *
  * BSON types arrive here as the structural shapes MongoDB Extended JSON
  * (and the Spark Mongo connector) give them: ObjectId =
  * `struct<$oid: string>`, DateTime = `struct<$date: long>`. The encoders
  * translate those shapes to the reference's `_type` tags
  * (`converter.rs:69-83`).
  *
  * ID dispatch (`converter.rs:236-260`):
  *   - ObjectId → 24-hex (`oid.to_hex()`);
  *   - String → as-is; Int32/Int64 → decimal string;
  *   - anything else (or a missing `_id`) → document number.
  *
  * The reference numbers documents by cursor arrival order; a distributed
  * read has no arrival order, so the fallback uses the deterministic
  * total-order row numbering of [[IdExtraction.rowNumberIds]] — stable
  * across retries and partitionings, which the cursor order is not.
  */
object MongoIngest {

  /** Is this struct Extended JSON's ObjectId shape? Requires EXACTLY the
    * single `$oid` field — the same predicate [[encodeField]] uses — so id
    * extraction and document encoding can never disagree about whether a
    * value is an ObjectId (a mixed-shape `_id` inferred as
    * `struct<$oid,x>` is NOT one; both paths fall back together). */
  private def isOidStruct(dt: DataType): Boolean = dt match {
    case st: StructType => st.fieldNames.sameElements(Array("$oid"))
    case _              => false
  }

  /** Per-field encoder: Extended-JSON BSON shapes get the reference's
    * `_type` tags; everything else uses the generic tagged encoding. */
  private def encodeField(f: StructField): Column = f.dataType match {
    case st: StructType if st.fieldNames.sameElements(Array("$oid")) =>
      TaggedJson.objectIdTag(col(f.name).getField("$oid"))
    case st: StructType if st.fieldNames.sameElements(Array("$date")) =>
      when(col(f.name).isNull, lit("null")).otherwise(
        concat(lit("{\"_type\":\"datetime\",\"$date\":"),
          col(f.name).getField("$date").cast(StringType), lit("}")))
    case dt => TaggedJson.encode(dt, col(f.name), mongoStyle = true)
  }

  /** Add the extracted `__id` string column per the `_id` dispatch.
    * The document-number fallback (a range-repartition + sort — the one
    * shuffle in this pipeline) is only planned when the schema admits rows
    * that need it: nullable `_id`, unsupported type, or no `_id` at all.
    * A provably non-null ObjectId/string/int `_id` is a pure narrow map. */
  def withMongoId(df: DataFrame): DataFrame = {
    val idField = df.schema.fields.find(_.name == "_id")
    val typedId: Option[(Column, Boolean)] = idField.flatMap { f =>
      f.dataType match {
        case st: StructType if isOidStruct(st) =>
          val oidNullable = st.fields.find(_.name == "$oid").forall(_.nullable)
          Some((col("_id").getField("$oid"), f.nullable || oidNullable))
        case StringType => Some((col("_id"), f.nullable))
        case ByteType | ShortType | IntegerType | LongType =>
          Some((col("_id").cast(StringType), f.nullable))
        case _ => None
      }
    }
    def numbered = IdExtraction.rowNumberIds(df, df.columns.sorted.toIndexedSeq.map(col))
    typedId match {
      case Some((expr, false)) => df.withColumn("__id", expr)
      case Some((expr, true)) =>
        // per-row fallback: a doc missing its _id (null after union/JSON
        // inference) still gets a number (`converter.rs:252-259`)
        numbered.withColumn("__id", coalesce(expr, col("__rid").cast(StringType)))
          .drop("__rid")
      case None =>
        numbered.withColumn("__id", col("__rid").cast(StringType)).drop("__rid")
    }
  }

  /** Whole-document JSON with the BSON-shape-aware field encoders —
    * the analog of `document_to_json` (`converter.rs:163-173`). */
  def docJson(df: DataFrame): Column =
    concat(
      lit("{"),
      concat_ws(",", df.schema.fields.map { f =>
        concat(TaggedJson.fieldKey(f.name), encodeField(f))
      }.toIndexedSeq: _*),
      lit("}"))

  /** The uniform JSONB-model frame `(id, data, _source_type='mongodb')`. */
  def toDocuments(df: DataFrame): DataFrame =
    withMongoId(df).select(
      col("__id").as("id"),
      docJson(df).as("data"),
      lit("mongodb").as("_source_type"))
}
