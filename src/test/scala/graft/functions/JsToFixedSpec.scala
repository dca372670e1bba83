package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.io.Source

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.JsToFixed.jsToFixed

/** [[JsToFixed]] against JavaScript itself: `js_to_fixed.tsv` holds what
  * node's `Number.prototype.toFixed` returned for each value and digit
  * count (dev/gen_js_to_fixed.js), and a property checks the exact-value
  * rule on values the table does not hold.
  */
class JsToFixedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private case class Case(x: Double, shown: String, digits: Int, expected: String)

  private lazy val table: Seq[Case] = {
    val in = Source.fromResource("js_to_fixed.tsv", getClass.getClassLoader)
    try in.getLines().filter(_.nonEmpty).map { line =>
      val Array(bits, shown, digits, expected) = line.split('\t')
      Case(java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(bits, 16)),
        shown, digits.toInt, expected)
    }.toVector finally in.close()
  }

  test("toFixed equals node's on every value of the committed table") {
    assert(table.size > 1500)
    val wrong = table.filter(r => JsToFixed.toFixed(r.x, r.digits) != r.expected)
    assert(wrong.isEmpty, wrong.take(10).map(r =>
      s"${r.shown}.toFixed(${r.digits}): JS ${r.expected}, " +
        JsToFixed.toFixed(r.x, r.digits)).mkString("\n"))
  }

  test("the table holds the ties, signs and forms the pipeline's rendering hangs on") {
    def js(bits: Long, digits: Int): String =
      table.find(r => java.lang.Double.doubleToRawLongBits(r.x) == bits &&
        r.digits == digits).get.expected
    def at(x: Double, digits: Int): String = js(java.lang.Double.doubleToRawLongBits(x), digits)
    assert(at(1.295, 2) == "1.29")
    assert(at(2.485, 2) == "2.48")
    assert(at(2.985, 2) == "2.98")
    assert(at(2.15, 1) == "2.1")
    assert(at(1.005, 2) == "1.00")
    assert(at(1.25, 1) == "1.3")
    assert(at(0.5, 0) == "1")
    assert(at(-0.04, 1) == "-0.0")
    assert(at(-0.0, 1) == "0.0")
    assert(at(1e21, 1) == "1e+21")
    assert(at(Double.NaN, 1) == "NaN")
  }

  test("the generated code and the interpreted path agree with the table") {
    import spark.implicits._
    val xs = table.map(_.x).distinct
    val df = xs.map(Tuple1(_)).toDF("x")
    val got = df.select(col("x"), jsToFixed(col("x"), 0), jsToFixed(col("x"), 1),
      jsToFixed(col("x"), 2)).collect()
    // keyed by the value each row holds, whatever a row does to -0 or NaN
    val expected = table.map(r => (java.lang.Double.doubleToLongBits(r.x), r.digits) ->
      r.expected).toMap
    got.foreach { row =>
      val bits = java.lang.Double.doubleToLongBits(row.getDouble(0))
      (0 to 2).foreach { d =>
        assert(row.getString(d + 1) == expected((bits, d)), s"${row.getDouble(0)} at $d digits")
      }
    }
    table.foreach { r =>
      assert(JsToFixed(Literal(r.x), r.digits).eval() ==
        UTF8String.fromString(r.expected), r.shown)
    }
    assert(JsToFixed(Literal(null, org.apache.spark.sql.types.DoubleType), 1).eval() == null)
  }

  test("for |x| < 1e21 toFixed is the exact value rounded half up, with JS's " +
    "sign rule, on 20000 random values") {
    val anyDouble = Gen.choose(-9.99e20, 9.99e20)
    // multiples of 1/1000 and of 1/8: decimal and binary ties
    val thousandths = Gen.choose(-10000000L, 10000000L).map(_ / 1000.0)
    val eighths = Gen.choose(-100000L, 100000L).map(_ / 8.0)
    val small = Gen.choose(-1.0, 1.0).map(_ * 1e-3)
    val bits = Gen.choose(0L, 0x444b1ae4d6e2ef4fL).map(java.lang.Double.longBitsToDouble)
    val g = Gen.zip(Gen.frequency(2 -> anyDouble, 4 -> thousandths, 2 -> eighths,
      1 -> small, 1 -> bits),
      Gen.frequency(3 -> Gen.choose(0, 2), 1 -> Gen.choose(0, JsToFixed.MaxDigits)))
    val cases = Gen.listOfN(20000, g).pureApply(Gen.Parameters.default, Seed(1019L))
    cases.foreach { case (x, digits) =>
      assert(math.abs(x) < 1e21)
      val exact = new JBigDecimal(math.abs(x)).setScale(digits, RoundingMode.HALF_UP)
      val expected = (if (x < 0) "-" else "") + exact.toPlainString
      assert(JsToFixed.toFixed(x, digits) == expected, s"$x at $digits digits")
    }
  }
}
