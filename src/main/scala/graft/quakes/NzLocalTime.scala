package graft.quakes

import java.time.{Instant, LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** task.ts:81-105,134-135 — an instant as the en-NZ wall clock of
  * Pacific/Auckland with its zone name: `dd/MM/yyyy, HH:mm NZST|NZDT`.
  *
  * One lookup of the zone's offset at the instant (`java.time` zone
  * rules, whatever the session time zone) gives the wall clock and the
  * name: +13h is NZDT, +12h NZST, and any other offset the reference's
  * fallback `NZT` (its Intl `timeZoneName:'short'` lookup, read from the
  * offset instead of locale data). The name flips exactly at the DST
  * transition instants because the offset does. A null instant gives
  * null.
  */
case class NzLocalTime(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == TimestampType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"NzLocalTime expects a TIMESTAMP, got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullSafeEval(micros: Any): Any = NzLocalTime.render(micros.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.quakes.NzLocalTime.render($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NzLocalTime {

  private val Rules = ZoneId.of(QuakeFunctions.NzTz).getRules

  private val DaySeconds = 24L * 3600

  /** The wall clock of `micros` since the epoch in Pacific/Auckland. */
  def render(micros: Long): UTF8String = {
    val seconds = Math.floorDiv(micros, 1000000L)
    val offset = Rules.getOffset(Instant.ofEpochSecond(seconds)).getTotalSeconds
    val wall = seconds + offset
    val date = LocalDate.ofEpochDay(Math.floorDiv(wall, DaySeconds))
    val minuteOfDay = (Math.floorMod(wall, DaySeconds) / 60).toInt
    val name = offset match {
      case 46800 => "NZDT"
      case 43200 => "NZST"
      case _ => "NZT"
    }
    val out = new java.lang.StringBuilder(24)
    pad(out, date.getDayOfMonth, 2).append('/')
    pad(out, date.getMonthValue, 2).append('/')
    pad(out, date.getYear, 4).append(", ")
    pad(out, minuteOfDay / 60, 2).append(':')
    pad(out, minuteOfDay % 60, 2).append(' ').append(name)
    UTF8String.fromString(out.toString)
  }

  private def pad(out: java.lang.StringBuilder, n: Int, width: Int): java.lang.StringBuilder = {
    val digits = Integer.toString(n)
    var i = digits.length
    while (i < width) { out.append('0'); i += 1 }
    out.append(digits)
  }
}
