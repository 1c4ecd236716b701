package graft.types

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.JsonNumber

/** Pin the tagged-JSON encodings against the reference's serde_json
  * output — `src/sqlite/converter.rs:459-737`,
  * `src/mongodb/converter.rs:283-393`, `src/mysql/converter.rs:291-362`
  * are the spec. */
class TaggedJsonSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  private def evalStr(c: org.apache.spark.sql.Column): String = {
    val s = spark
    s.range(1).select(c.as("v")).head().getString(0)
  }

  // ---- JsonNumber (pure serde_json/Ryū notation parity) ---------------

  test("JsonNumber: integral doubles keep .0, no scientific until 1e16") {
    assert(JsonNumber.format(0.0) == "0.0")
    assert(JsonNumber.format(-0.0) == "-0.0")
    assert(JsonNumber.format(1.0) == "1.0")
    assert(JsonNumber.format(1e7) == "10000000.0") // Spark cast writes 1.0E7
    assert(JsonNumber.format(1e15) == "1000000000000000.0")
    assert(JsonNumber.format(1e16) == "1e16")
    assert(JsonNumber.format(-2e20) == "-2e20")
  }

  test("JsonNumber: fractions, shortest round-trip, small-magnitude switch") {
    assert(JsonNumber.format(3.14) == "3.14")
    assert(JsonNumber.format(0.1 + 0.2) == "0.30000000000000004")
    assert(JsonNumber.format(1e-5) == "0.00001")
    assert(JsonNumber.format(1e-6) == "1e-6")
    assert(JsonNumber.format(-2.5e-8) == "-2.5e-8")
    assert(JsonNumber.format(12345.678) == "12345.678")
    // round-trips
    for (d <- Seq(1.7976931348623157e308, 4.9e-324, 0.5, 123456.789e-30))
      assert(JsonNumber.format(d).toDouble == d)
  }

  test("jsonString covers every control char with serde escapes") {
    val in = "ab\nc\"d\\e\tf\bg\fhz"
    val out = evalStr(TaggedJson.jsonString(lit(in)))
    assert(out == "\"a\\u0001b\\nc\\\"d\\\\e\\tf\\bg\\fh\\u001fz\"")
    assert(evalStr(TaggedJson.jsonString(lit(null).cast(StringType))) == "null")
  }

  test("jsonDouble: non-finite floats become JSON strings (converter.rs:43-51)") {
    assert(evalStr(TaggedJson.jsonDouble(lit(Double.NaN))) == "\"NaN\"")
    assert(evalStr(TaggedJson.jsonDouble(lit(Double.PositiveInfinity))) == "\"Infinity\"")
    assert(evalStr(TaggedJson.jsonDouble(lit(Double.NegativeInfinity))) == "\"-Infinity\"")
    assert(evalStr(TaggedJson.jsonDouble(lit(1e7))) == "10000000.0")
    assert(evalStr(TaggedJson.jsonDouble(lit(null).cast(DoubleType))) == "null")
  }

  test("blob/binary tags base64-encode (converter.rs:56-65)") {
    val out = evalStr(TaggedJson.blobTag(lit("hello".getBytes("UTF-8"))))
    assert(out == """{"_type":"blob","data":"aGVsbG8="}""")
    assert(evalStr(TaggedJson.binaryTag(lit(Array[Byte](0, 1, 2)))) ==
      """{"_type":"binary","data":"AAEC"}""")
  }

  test("mongo tags: objectid, datetime epoch-ms, regex, timestamp, min/max key") {
    assert(evalStr(TaggedJson.objectIdTag(lit("507f1f77bcf86cd799439011"))) ==
      """{"_type":"objectid","$oid":"507f1f77bcf86cd799439011"}""")
    val ts = Timestamp.valueOf("2024-01-02 03:04:05.123")
    assert(evalStr(TaggedJson.mongoDateTag(lit(ts))) ==
      s"""{"_type":"datetime","$$date":${ts.getTime}}""")
    assert(evalStr(TaggedJson.regexTag(lit("^a.*b$"), lit("i"))) ==
      """{"_type":"regex","pattern":"^a.*b$","options":"i"}""")
    assert(evalStr(TaggedJson.bsonTimestampTag(lit(1700000000L), lit(7))) ==
      """{"_type":"timestamp","t":1700000000,"i":7}""")
    assert(evalStr(TaggedJson.minKeyTag) == """{"_type":"minkey"}""")
    assert(evalStr(TaggedJson.maxKeyTag) == """{"_type":"maxkey"}""")
  }

  test("mysql TIME tag renders [-]Nd HH:MM:SS.ffffff (converter.rs:91-102)") {
    // 2 days, 3h 4m 5s, 123456µs
    val us = ((2L * 24 + 3) * 3600 + 4 * 60 + 5) * 1000000L + 123456L
    assert(evalStr(TaggedJson.mysqlTimeTag(lit(us))) ==
      """{"_type":"time","value":"2d 03:04:05.123456"}""")
    assert(evalStr(TaggedJson.mysqlTimeTag(lit(-us))) ==
      """{"_type":"time","value":"-2d 03:04:05.123456"}""")
    assert(evalStr(TaggedJson.mysqlTimeTag(lit(0L))) ==
      """{"_type":"time","value":"0d 00:00:00.000000"}""")
  }

  test("mysql DATETIME tag is ISO-8601 with microseconds + Z") {
    val ts = Timestamp.valueOf("2024-01-02 03:04:05.123456")
    assert(evalStr(TaggedJson.mysqlDatetimeTag(lit(ts))) ==
      """{"_type":"datetime","value":"2024-01-02T03:04:05.123456Z"}""")
  }

  test("rowJson encodes a full fixture row byte-for-byte") {
    val s = spark
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("t", StringType),
      StructField("bin", BinaryType), StructField("dec", DecimalType(10, 2)),
      StructField("arr", ArrayType(LongType)), StructField("nul", StringType)))
    val row = Row(42L, 2.5, true, "he\"llo\n", "hi".getBytes("UTF-8"),
      new java.math.BigDecimal("12.34"), Seq(1L, 2L), null)
    val df = s.createDataFrame(
      java.util.Collections.singletonList(row), schema)
    val json = df.select(TaggedJson.rowJson(df).as("j")).head().getString(0)
    assert(json ==
      """{"i":42,"d":2.5,"b":true,"t":"he\"llo\n","bin":{"_type":"blob","data":"aGk="},""" +
        """"dec":"12.34","arr":[1,2],"nul":null}""")
  }

  test("encode handles nested structs, dates, and the text fallback") {
    val s = spark
    val schema = StructType(Seq(
      StructField("nested", StructType(Seq(
        StructField("a", LongType), StructField("b", StringType)))),
      StructField("day", DateType),
      StructField("deep", ArrayType(ArrayType(LongType)))))
    val row = Row(Row(5L, "x"), java.sql.Date.valueOf("2024-03-09"),
      Seq(Seq(1L), Seq(2L, 3L)))
    val df = s.createDataFrame(java.util.Collections.singletonList(row), schema)
    val json = df.select(TaggedJson.rowJson(df).as("j")).head().getString(0)
    assert(json ==
      """{"nested":{"a":5,"b":"x"},"day":"2024-03-09","deep":[[1],[2,3]]}""")
  }

  test("jsonString output parses back to the original for hostile inputs") {
    val s = spark
    import s.implicits._
    // every C0 control char, quotes, backslash runs, unicode, JSON tokens
    val nasty = (0x00 until 0x20).map(c => s"a${c.toChar}b") ++ Seq(
      "", "\"", "\\", "\\\\\"", "{\"k\":1}", "line1\nline2\r\n", "\t\t",
      "ünïcødé ✓ 中文", "a\\u0041b", "[1,2]", "tr\"icky\\mix\n")
    val schema = StructType(Seq(StructField("v", StringType)))
    val df = nasty.toDF("raw")
      .select(col("raw"),
        from_json(concat(lit("{\"v\":"), TaggedJson.jsonString(col("raw")), lit("}")),
          schema).getField("v").as("parsed"))
    val bad = df.filter(!(col("parsed") <=> col("raw"))).collect()
    assert(bad.isEmpty, s"round-trip failures: ${bad.mkString(", ")}")
  }

  test("toJsonbModel produces the uniform (id, data, _source_type) shape") {
    val s = spark
    import s.implicits._
    val df = Seq((7L, "x")).toDF("id", "v")
    val out = TaggedJson.toJsonbModel(df, col("id"), "mysql")
    assert(out.columns.toSeq == Seq("id", "data", "_source_type"))
    val r = out.head()
    assert(r.getString(0) == "7")
    assert(r.getString(1) == """{"id":7,"v":"x"}""")
    assert(r.getString(2) == "mysql")
  }

  test("field names with quotes, backslashes and controls are escaped") {
    val s = spark
    val hostile = Seq("a\"b", "c\\d", "e\u0001f", "g\nh")
    val schema = StructType(hostile.map(StructField(_, LongType)) :+
      StructField("s", StructType(hostile.map(StructField(_, StringType)))))
    val row = Row((hostile.indices.map(_.toLong) :+ Row(hostile: _*)): _*)
    val df = s.createDataFrame(java.util.Collections.singletonList(row), schema)
    val keys = Seq("\"a\\\"b\"", "\"c\\\\d\"", "\"e\\u0001f\"", "\"g\\nh\"")
    val json = df.select(TaggedJson.rowJson(df).as("j")).head().getString(0)
    assert(json == keys.zipWithIndex.map { case (k, i) => s"$k:$i" }.mkString("{", ",", ",") +
      "\"s\":" + keys.zip(keys).map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}") + "}")
    val parsed = df.select(from_json(TaggedJson.rowJson(df), schema).as("p"))
      .select("p.*").head()
    assert(parsed == row)
    // the Mongo document encoder shares the key rule
    val mongo = df.select(graft.jsonb.MongoIngest.docJson(df)).head().getString(0)
    assert(mongo == json)
  }

  /** A plain-Scala serde_json escaper: the reference the native
    * expression is checked against. */
  private def refJsonString(v: Option[String]): String = v match {
    case None => "null"
    case Some(str) =>
      val sb = new StringBuilder("\"")
      str.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\b' => sb ++= "\\b"
        case '\t' => sb ++= "\\t"
        case '\n' => sb ++= "\\n"
        case '\f' => sb ++= "\\f"
        case '\r' => sb ++= "\\r"
        case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      (sb += '"').toString
  }

  /** Code points from every escape class plus 1- to 4-byte UTF-8
    * (4-byte ones are surrogate pairs in the JVM string). */
  private val codePoint: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0x00, 0x1f),
    2 -> Gen.oneOf('"'.toInt, '\\'.toInt),
    4 -> Gen.choose(0x20, 0x7f),
    2 -> Gen.choose(0x80, 0x7ff),
    2 -> Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xffff)),
    2 -> Gen.choose(0x10000, 0x10ffff))

  private val hostileString: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    19 -> Gen.listOf(codePoint).map { cps =>
      val sb = new java.lang.StringBuilder
      cps.foreach(sb.appendCodePoint)
      Some(sb.toString)
    })

  /** Encode generated strings through a non-foldable column (an RDD scan,
    * so neither constant folding nor the local-relation rule evaluates
    * the projection on the driver) and check every row against the
    * reference escaper and a `from_json` parse back. */
  private def checkJsonStringProperty(codegen: Boolean): Unit = {
    val s = spark
    val schema = StructType(Seq(StructField("raw", StringType)))
    val parsedSchema = StructType(Seq(StructField("v", StringType)))
    val prop = Prop.forAll(Gen.listOfN(200, hostileString)) { raws =>
      val rdd = s.sparkContext.parallelize(raws.map(r => Row(r.orNull)), 2)
      val enc = TaggedJson.jsonString(col("raw"))
      val df = s.createDataFrame(rdd, schema).select(col("raw"), enc.as("json"),
        from_json(concat(lit("{\"v\":"), enc, lit("}")), parsedSchema)
          .getField("v").as("parsed"))
      val wscg = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(wscg.nonEmpty == codegen, df.queryExecution.executedPlan.toString)
      df.collect().forall { r =>
        val raw = Option(r.getString(0))
        r.getString(1) == refJsonString(raw) && Option(r.getString(2)) == raw
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("jsonString property: generated strings, whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true",
             "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      checkJsonStringProperty(codegen = true)
    }
  }

  test("jsonString property: generated strings, interpreted (NO_CODEGEN)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      checkJsonStringProperty(codegen = false)
    }
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
