package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import com.fasterxml.jackson.core.io.NumberOutput
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `x.toFixed(digits)` with JavaScript's semantics (ECMA-262
  * `Number.prototype.toFixed`), as one codegen'd expression.
  *
  * JS rounds the EXACT binary value of `x` half-up, where the JVM
  * formatter (`format_string("%.1f")`) rounds its shortest decimal
  * string: 1.295 is 1.29499999999999992894572642399 in binary, so
  * `toFixed(2)` gives `1.29` and `%.2f` gives `1.30`. The rules:
  *  - `NaN` prints `NaN`, and ±∞ print `Infinity` / `-Infinity`
  *  - the sign is taken first, so any negative `x` keeps its `-` even
  *    when it rounds to zero (`-0.04` → `-0.0`), and `-0` prints as `0`
  *  - |x| ≥ 1e21 prints as JS `String(x)`: the shortest round-trip
  *    digits in exponent form (`1e+21`, `-1.5e+21`)
  *  - below that, the exact value rounded half-up to `digits` places
  *  - a null `x` gives null
  *
  * `digits` is a constant in 0..20 (JS allows up to 100; the pipeline
  * uses 1 and 2).
  */
case class JsToFixed(child: Expression, digits: Int) extends UnaryExpression {
  require(digits >= 0 && digits <= JsToFixed.MaxDigits,
    s"toFixed digits must be in 0..${JsToFixed.MaxDigits}, not $digits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"JsToFixed expects a DOUBLE, got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    JsToFixed.render(input.asInstanceOf[Double], digits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.JsToFixed.render($c, $digits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsToFixed {

  val MaxDigits = 20

  private val Pow10 = Array.iterate(1.0, MaxDigits + 1)(_ * 10)

  def render(x: Double, digits: Int): UTF8String =
    UTF8String.fromString(toFixed(x, digits))

  /** The string JS `x.toFixed(digits)` returns. */
  def toFixed(x: Double, digits: Int): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) if (x > 0) "Infinity" else "-Infinity"
    else {
      val sign = if (x < 0) "-" else ""
      val a = math.abs(x)
      if (a >= 1e21) sign + exponentForm(a)
      else {
        // Fast path: a·10^d is within half an ulp of the exact product,
        // so unless its fraction lies within a few ulps of .5 the exact
        // value rounds the same way. Ties and near-ties take BigDecimal.
        val scaled = a * Pow10(digits)
        val whole = math.floor(scaled)
        val frac = scaled - whole
        if (scaled < 1e15 && math.abs(frac - 0.5) > 4 * math.ulp(scaled))
          sign + withPoint(if (frac > 0.5) whole.toLong + 1 else whole.toLong, digits)
        else
          sign + new JBigDecimal(a).setScale(digits, RoundingMode.HALF_UP).toPlainString
      }
    }

  /** `n / 10^digits` written with exactly `digits` decimals. */
  private def withPoint(n: Long, digits: Int): String =
    if (digits == 0) n.toString
    else {
      val s = n.toString
      val padded = if (s.length > digits) s else "0" * (digits + 1 - s.length) + s
      val point = padded.length - digits
      padded.substring(0, point) + "." + padded.substring(point)
    }

  /** JS `String(a)` for a finite a ≥ 1e21: the shortest round-trip
    * digits d₁d₂…dₖ as `d₁.d₂…dₖe+N` (`d₁e+N` when k is 1).
    */
  private def exponentForm(a: Double): String = {
    // Schubfach's shortest digits, in the JVM's `d.dddE21` notation
    val jvm = NumberOutput.toString(a, true)
    val e = jvm.indexOf('E')
    val digits = jvm.substring(0, e).replace(".", "").replaceAll("0+$", "")
    val rest = if (digits.length > 1) "." + digits.substring(1) else ""
    s"${digits.charAt(0)}$rest" + "e+" + jvm.substring(e + 1)
  }

  def jsToFixed(x: Column, digits: Int): Column =
    ExpressionUtils.column(JsToFixed(ExpressionUtils.expression(x.cast("double")), digits))
}
