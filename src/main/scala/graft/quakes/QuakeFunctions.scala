package graft.quakes

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}

/** Column implementations of the reference's scalar helpers
  * (task.ts:81-138). Each is a `Column => Column` composition of
  * built-in functions, except the NZ wall clock, which is one codegen'd
  * expression ([[NzLocalTime]]) — all fully visible to Catalyst
  * (constant folding, codegen), no UDFs.
  */
object QuakeFunctions {

  val NzTz = "Pacific/Auckland"

  /** Age of an event in minutes against a per-run `now` captured once
    * (task.ts:184,190-191): `(now - eventMs) / 60000` as a double.
    */
  def ageMinutes(eventTs: Column, nowMs: Column): Column =
    (nowMs - unix_millis(eventTs)) / lit(60000.0)

  /** Whole minutes/hours/days since the event (JS Math.floor semantics,
    * task.ts:113,119,124). Kept as LONG so string rendering matches JS
    * integer Number printing.
    */
  private def wholeMinutesAgo(eventTs: Column, nowMs: Column): Column =
    floor((nowMs - unix_millis(eventTs)) / lit(60000L)).cast("long")

  private def unitPhrase(n: Column, unit: String): Column =
    concat(n.cast("string"), lit(" " + unit),
      when(n === 1, lit("")).otherwise(lit("s")), lit(" ago"))

  /** task.ts:111-126 — "time ago" with the largest whole unit that applies:
    * minutes under an hour, hours under a day, else days; singular iff the
    * count is exactly 1.
    */
  def timeAgo(eventTs: Column, nowMs: Column): Column = {
    val mins = wholeMinutesAgo(eventTs, nowMs)
    val hours = floor(mins / lit(60L)).cast("long")
    val days = floor(hours / lit(24L)).cast("long")
    when(mins < 60, unitPhrase(mins, "minute"))
      .when(hours < 24, unitPhrase(hours, "hour"))
      .otherwise(unitPhrase(days, "day"))
  }

  /** task.ts:81-105,134-135 — `dd/MM/yyyy, HH:mm NZST|NZDT` in
    * Pacific/Auckland: one [[NzLocalTime]] expression. Like every
    * rendering here it does not depend on the session time zone.
    */
  def nzLocalTime(ts: Column): Column =
    ExpressionUtils.column(NzLocalTime(ExpressionUtils.expression(ts.cast("timestamp"))))

  /** task.ts:132-138 — `"dd/MM/yyyy, HH:mm NZST|NZDT (N units ago)"`. */
  def nzLocal(ts: Column, nowMs: Column): Column =
    concat(nzLocalTime(ts), lit(" ("), timeAgo(ts, nowMs), lit(")"))

  private val DayMs = 24L * 3600 * 1000

  /** UTC calendar date of epoch millis `ms`. */
  private def utcDate(ms: Column): Column =
    date_from_unix_date(floor(ms / lit(DayMs)).cast("int"))

  /** Whole `unitMs` units of the UTC wall clock of `ms`, modulo `mod`:
    * (3600000, 24) is the hour, (60000, 60) the minute, and so on.
    */
  private def clock(ms: Column, unitMs: Long, mod: Long): Column =
    pmod(floor(ms / lit(unitMs)), lit(mod))

  private def zeroPad(n: Column, width: Int): Column =
    lpad(n.cast("string"), width, "0")

  /** Dictionary lookup with default (task.ts:218,225): a map literal +
    * `element_at` + `coalesce`. Constant-folded by Catalyst, so the
    * lookup costs a hash probe inside the projection — no join, no
    * broadcast. [[QuakePipeline.transform]] uses it for both the icon
    * and the intensity dictionary.
    */
  def lookupWithDefault(key: Column, dict: Map[Int, String],
      default: String): Column =
    coalesce(element_at(typedlit(dict), key), lit(default))

  /** JS `Date.prototype.toISOString`: `yyyy-MM-ddTHH:mm:ss.SSSZ`, always
    * in UTC whatever the session time zone.
    */
  def toIso(ts: Column): Column = {
    val ms = unix_millis(ts)
    val d = utcDate(ms)
    concat(zeroPad(year(d), 4), lit("-"), zeroPad(month(d), 2), lit("-"),
      zeroPad(dayofmonth(d), 2), lit("T"), zeroPad(clock(ms, 3600000L, 24), 2),
      lit(":"), zeroPad(clock(ms, 60000L, 60), 2), lit(":"),
      zeroPad(clock(ms, 1000L, 60), 2), lit("."), zeroPad(clock(ms, 1L, 1000), 3),
      lit("Z"))
  }
}
