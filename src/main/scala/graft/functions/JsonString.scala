package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** serde_json-compatible JSON string literals, built in one pass over the
  * UTF-8 bytes. The escape set is serde's: `\\`, `\"`, the five
  * shorthand controls (`\b \t \n \f \r`), and lowercase `\u00XX` for
  * every other byte below 0x20 (a stray 0x01 in a document must not
  * produce invalid JSON).
  *
  * Every byte that needs escaping is ASCII, and UTF-8 lead and
  * continuation bytes are all ≥ 0x80, so the scan never decodes: it
  * counts the escaped length, and when nothing needs escaping the result
  * is one `"` + bytes + `"` concatenation; otherwise the escapes are
  * written into a single exactly-sized buffer.
  */
object JsonString {

  /** Per ASCII byte below `'\\' + 1`: 0 = copy as is, otherwise the byte
    * written after the backslash (`'u'` means a `\u00XX` escape). */
  private val Escape: Array[Byte] = {
    val t = new Array[Byte]('\\' + 1)
    (0 until 0x20).foreach(b => t(b) = 'u'.toByte)
    Seq('\b' -> 'b', '\t' -> 't', '\n' -> 'n', '\f' -> 'f', '\r' -> 'r',
        '"' -> '"', '\\' -> '\\').foreach { case (c, e) => t(c) = e.toByte }
    t
  }

  private val Hex: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")
  private val Quote: UTF8String = UTF8String.fromString("\"")

  /** The JSON text of SQL NULL. */
  val Null: UTF8String = UTF8String.fromString("null")

  /** Escape byte for `b`, or 0 when `b` is copied verbatim (negative
    * bytes are non-ASCII UTF-8 and never escaped). */
  @inline private def escapeOf(b: Byte): Byte =
    if (b >= 0 && b < Escape.length) Escape(b) else 0

  /** The quoted, escaped JSON literal of `s`. Static so generated code
    * calls it directly inside the whole-stage-codegen span. */
  def quote(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var extra = 0
    var i = 0
    while (i < n) {
      val e = escapeOf(Platform.getByte(base, off + i))
      if (e != 0) extra += (if (e == 'u') 5 else 1)
      i += 1
    }
    if (extra == 0) return UTF8String.concat(Quote, s, Quote)
    val out = new Array[Byte](n + extra + 2)
    out(0) = '"'.toByte
    var o = 1
    i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      val e = escapeOf(b)
      if (e == 0) { out(o) = b; o += 1 }
      else {
        out(o) = '\\'.toByte
        out(o + 1) = e
        if (e == 'u') {
          out(o + 2) = '0'.toByte
          out(o + 3) = '0'.toByte
          out(o + 4) = Hex(b >> 4)
          out(o + 5) = Hex(b & 0xf)
          o += 6
        } else o += 2
      }
      i += 1
    }
    out(o) = '"'.toByte
    UTF8String.fromBytes(out)
  }

  /** [[quote]] for driver-side text such as field names. */
  def quote(s: String): String = quote(UTF8String.fromString(s)).toString
}

/** `graft_json_string(s)` — the complete JSON literal of a string, see
  * [[JsonString]]: NULL → `null`, otherwise the quoted, escaped value
  * (so the result is never NULL). Registered by [[GraftExtensions]]. */
case class JsonStringExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_json_string"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_json_string expects STRING, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) JsonString.Null else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any =
    JsonString.quote(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull}
        ? graft.functions.JsonString.Null()
        : graft.functions.JsonString.quote(${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonStringExpr =
    copy(child = newChild)
}
