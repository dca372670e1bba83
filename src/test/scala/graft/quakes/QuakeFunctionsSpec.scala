package graft.quakes

import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.quakes.QuakeFunctions._
import graft.quakes.QuakeModel._

/** Edge-case semantics of the scalar helpers (SURVEY.md §5.2):
  * time-ago pluralization boundaries (task.ts:115-126), NZST/NZDT
  * transitions (task.ts:101-105), dictionary boundaries (task.ts:7,17,22,31).
  */
class QuakeFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def agoAt(eventIso: String, nowIso: String): String = {
    val nowMs = Instant.parse(nowIso).toEpochMilli
    Seq(eventIso).toDF("t")
      .select(timeAgo(to_timestamp($"t"), lit(nowMs)))
      .head.getString(0)
  }

  test("timeAgo: minute boundaries incl singular (task.ts:115-117)") {
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T00:00:30Z") == "0 minutes ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T00:01:00Z") == "1 minute ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T00:02:00Z") == "2 minutes ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T00:59:59Z") == "59 minutes ago")
  }

  test("timeAgo: hour boundaries (task.ts:119-122)") {
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T01:00:00Z") == "1 hour ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T01:59:00Z") == "1 hour ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T02:00:00Z") == "2 hours ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-07T23:59:00Z") == "23 hours ago")
  }

  test("timeAgo: day boundaries (task.ts:124-125)") {
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-08T00:00:00Z") == "1 day ago")
    assert(agoAt("2026-08-07T00:00:00Z", "2026-08-09T12:00:00Z") == "2 days ago")
    assert(agoAt("2026-08-01T00:00:00Z", "2026-08-21T00:00:00Z") == "20 days ago")
  }

  /** The zone name that ends the NZ local time of `iso`. */
  private def tzAt(iso: String): String =
    Seq(iso).toDF("t").select(nzLocalTime(to_timestamp($"t"))).head.getString(0)
      .split(' ').last

  test("nzTzName: NZST in southern winter, NZDT in summer") {
    assert(tzAt("2026-08-06T23:30:00Z") == "NZST")
    assert(tzAt("2026-01-15T03:00:00Z") == "NZDT")
  }

  test("nzTzName: 2026 DST transition instants (FIXTURES.md §2.3)") {
    // NZDT -> NZST on 2026-04-05: clocks go 03:00 NZDT -> 02:00 NZST,
    // i.e. at 2026-04-04T14:00:00Z. One second before is still NZDT.
    assert(tzAt("2026-04-04T13:59:59Z") == "NZDT")
    assert(tzAt("2026-04-04T14:00:00Z") == "NZST")
    // NZST -> NZDT on 2026-09-27: 02:00 NZST -> 03:00 NZDT, at 2026-09-26T14:00:00Z.
    assert(tzAt("2026-09-26T13:59:59Z") == "NZST")
    assert(tzAt("2026-09-26T14:00:00Z") == "NZDT")
  }

  test("nzDate / nzTime: en-NZ rendering in Pacific/Auckland (task.ts:81-92)") {
    val local = nzLocalTime(to_timestamp($"t"))
    val row = Seq("2026-08-06T23:30:00Z").toDF("t")
      .select(substring(local, 1, 10), substring(local, 13, 5)).head
    // 2026-08-06T23:30Z = 2026-08-07 11:30 NZST
    assert(row.getString(0) == "07/08/2026")
    assert(row.getString(1) == "11:30")
  }

  test("nzLocalTime: the wall clock either side of the 2026 DST transitions") {
    def localAt(iso: String): String =
      Seq(iso).toDF("t").select(nzLocalTime(to_timestamp($"t"))).head().getString(0)
    // 03:00 NZDT becomes 02:00 NZST, and 02:00 NZST becomes 03:00 NZDT
    assert(localAt("2026-04-04T13:59:59.999Z") == "05/04/2026, 02:59 NZDT")
    assert(localAt("2026-04-04T14:00:00Z") == "05/04/2026, 02:00 NZST")
    assert(localAt("2026-09-26T13:59:59.999Z") == "27/09/2026, 01:59 NZST")
    assert(localAt("2026-09-26T14:00:00Z") == "27/09/2026, 03:00 NZDT")
    // before 1970 the epoch seconds are negative: floor, not truncate
    assert(localAt("1968-05-31T23:59:59.5Z") == "01/06/1968, 11:59 NZST")
    assert(Seq("x").toDF("t").select(nzLocalTime(lit(null).cast("timestamp")))
      .head().isNullAt(0))
  }

  test("nzLocal: composite format (task.ts:132-138)") {
    val nowMs = Instant.parse("2026-08-07T00:00:00Z").toEpochMilli
    val got = Seq("2026-08-06T14:00:00Z").toDF("t")
      .select(nzLocal(to_timestamp($"t"), lit(nowMs))).head.getString(0)
    assert(got == "07/08/2026, 02:00 NZST (10 hours ago)")
  }

  test("lookupWithDefault: hits, -1 key, and miss default (task.ts:21-32)") {
    val got = Seq(-1, 1, 5, 9, 10, 0).toDF("mmi")
      .select(lookupWithDefault($"mmi", MmiIntensity, DefaultIntensity))
      .as[String].collect.toSeq
    assert(got == Seq("Unnoticeable", "Unnoticeable", "Moderate", "Violent",
      "Unknown", "Unknown"))
  }

  test("ageMinutes: fractional, not floored (task.ts:190-191)") {
    val nowMs = Instant.parse("2026-08-07T00:00:30Z").toEpochMilli
    val got = Seq("2026-08-07T00:00:00Z").toDF("t")
      .select(ageMinutes(to_timestamp($"t"), lit(nowMs))).head.getDouble(0)
    assert(got == 0.5)
  }

  test("QuakeConfig: validation matches reference (task.ts:164-172)") {
    assertThrows[IllegalArgumentException](QuakeConfig(mmi = 9))
    assertThrows[IllegalArgumentException](QuakeConfig(mmi = -2))
    assertThrows[IllegalArgumentException](
      QuakeConfig.fromEnv(Map("MMI" -> "not-a-number")))
    assertThrows[IllegalArgumentException](
      QuakeConfig.fromEnv(Map("Max Age Minutes" -> "NaN-ish")))
    assert(QuakeConfig.fromEnv(Map.empty) == QuakeConfig(5, 10080.0))
    assert(QuakeConfig.fromEnv(Map("MMI" -> "3", "Max Age Minutes" -> "60"))
      == QuakeConfig(3, 60.0))
  }
}
