package graft.functions

/** serde_json-compatible rendering of finite doubles — the reference's
  * JSON documents are written by serde_json, whose number formatting is
  * Ryū "pretty" notation (shortest round-trip digits; fixed notation for
  * 1e-5 ≤ |v| < 1e16, scientific `d.ddde±x` with no plus sign
  * otherwise; integral values keep a `.0`). Spark's
  * `cast(double as string)` writes Java scientific notation (`1.0E7`)
  * instead — this formatter closes that gap so encodings compare
  * byte-for-byte.
  *
  * Shortest digits come from `java.lang.Double.toString` (shortest
  * uniquely-distinguishing decimal); only the notation is re-rendered.
  */
object JsonNumber {

  /** JSON text of any double: finite → [[format]]; NaN/±Infinity → the
    * JSON *strings* `"NaN"`, `"Infinity"`, `"-Infinity"`
    * (`src/sqlite/converter.rs:43-51`, same rule in all three converters). */
  def text(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d == Double.PositiveInfinity) "\"Infinity\""
    else if (d == Double.NegativeInfinity) "\"-Infinity\""
    else format(d)

  def format(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, "non-finite doubles are encoded as strings upstream")
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val (digits, sciExp) = digitsAndExp(math.abs(d))
    val body =
      if (sciExp >= -5 && sciExp <= 15) fixed(digits, sciExp)
      else scientific(digits, sciExp)
    if (neg) "-" + body else body
  }

  /** Shortest significant digits (no trailing zeros) + exponent e such
    * that value = d.dddd × 10^e.
    *
    * `Double.toString` is only guaranteed shortest-round-trip since
    * JDK 19 (JDK-4511638); on JDK 17 it occasionally emits one digit more
    * than necessary, which would break serde_json/Ryū byte parity. So the
    * digits are post-processed: round to n-1 significant digits and keep
    * shortening while the result still round-trips to the same double. */
  private[functions] def digitsAndExp(a: Double): (String, Int) = {
    val full = new java.math.BigDecimal(java.lang.Double.toString(a))
    var best = full
    var n = full.precision - 1
    var shrinking = true
    while (shrinking && n >= 1) {
      val cand = full.round(new java.math.MathContext(n))
      if (cand.doubleValue() == a) { best = cand; n -= 1 }
      else shrinking = false
    }
    val stripped = best.stripTrailingZeros
    val digits = stripped.unscaledValue.abs.toString
    // value = unscaled × 10^-scale = d.ddd × 10^(precision - scale - 1)
    (digits, stripped.precision - stripped.scale - 1)
  }

  private def fixed(digits: String, sciExp: Int): String =
    if (sciExp >= digits.length - 1)
      digits + "0" * (sciExp - digits.length + 1) + ".0"
    else if (sciExp >= 0)
      digits.substring(0, sciExp + 1) + "." + digits.substring(sciExp + 1)
    else
      "0." + "0" * (-sciExp - 1) + digits

  private def scientific(digits: String, sciExp: Int): String = {
    val mant =
      if (digits.length == 1) digits
      else digits.substring(0, 1) + "." + digits.substring(1)
    mant + "e" + sciExp
  }
}
