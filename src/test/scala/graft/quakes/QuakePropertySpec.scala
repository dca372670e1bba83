package graft.quakes

import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel._

/** Property tests (SURVEY.md §5.2): invariants that must hold for ALL
  * inputs, generated with seeded scalacheck Gens and evaluated in one
  * Spark job per property (the offline cache has scalacheck itself but
  * not the scalatest bridge, so sampling is explicit).
  */
class QuakePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  // 2020..2030, enough to cross many DST transitions
  private val instantGen: Gen[Long] = Gen.choose(1577836800000L, 1893456000000L)

  test("timeAgo matches a direct JVM reimplementation on 500 random instants") {
    import spark.implicits._
    val cases = samples(Gen.zip(instantGen,
      Gen.choose(0L, 40L * 24 * 60 * 60 * 1000)), 500)
    val df = cases.map { case (e, a) =>
      (Instant.ofEpochMilli(e).toString, e + a) }.toDF("t", "now")
    val got = df.select(QuakeFunctions.timeAgo(to_timestamp($"t"), $"now"))
      .collect().map(_.getString(0))
    cases.zip(got).foreach { case ((e, a), g) =>
      val mins = a / 60000
      val expected =
        if (mins < 60) s"$mins minute${if (mins == 1) "" else "s"} ago"
        else if (mins / 60 < 24) {
          val h = mins / 60; s"$h hour${if (h == 1) "" else "s"} ago"
        } else {
          val dd = mins / 60 / 24; s"$dd day${if (dd == 1) "" else "s"} ago"
        }
      assert(g == expected, s"eventMs=$e ageMs=$a")
    }
  }

  test("nzTzName equals the java.time abbreviation on 500 random instants") {
    import spark.implicits._
    val cases = samples(instantGen, 500)
    val got = cases.map(Instant.ofEpochMilli(_).toString).toDF("t")
      .select(QuakeFunctions.nzLocalTime(to_timestamp($"t")))
      .collect().map(_.getString(0).split(' ').last)
    cases.zip(got).foreach { case (ms, g) =>
      val expected = java.time.ZonedDateTime
        .ofInstant(Instant.ofEpochMilli(ms),
          java.time.ZoneId.of("Pacific/Auckland"))
        .format(java.time.format.DateTimeFormatter.ofPattern("zzz"))
      assert(g == expected, s"ms=$ms")
    }
  }

  test("NzLocalTime equals java.time's en-NZ wall clock on 500 random " +
    "millisecond instants, in a non-UTC session") {
    val session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    import session.implicits._
    val cases = samples(instantGen, 500)
    val got = cases.map(Instant.ofEpochMilli(_).toString).toDF("t")
      .select(QuakeFunctions.nzLocalTime(to_timestamp($"t")))
      .collect().map(_.getString(0))
    val format = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy, HH:mm zzz")
      .withZone(java.time.ZoneId.of("Pacific/Auckland"))
    cases.zip(got).foreach { case (ms, g) =>
      assert(g == format.format(Instant.ofEpochMilli(ms)), s"ms=$ms")
    }
  }

  test("pipeline invariants hold for random max-age windows") {
    val features = QuakePipeline.parseFeatureCollection(spark, FixtureJson)
    val total = features.count()
    samples(Gen.choose(0.0, 600000.0), 10).foreach { maxAge =>
      val out = QuakePipeline.transform(features,
        QuakeConfig(maxAgeMinutes = maxAge), FixtureNowMs)
      val rows = out.select(col("id"), col("properties.remarks")).collect()
      // filters only ever drop rows
      assert(rows.length <= total)
      val ids = rows.map(_.getString(0))
      // stable key synthesis: prefixed, unique per publicID
      assert(ids.forall(_.startsWith("earthquake-")))
      assert(ids.distinct.length == ids.length)
      // the remarks report always has exactly 8 lines (task.ts:233-242)
      assert(rows.forall(_.getString(1).split("\n", -1).length == 8))
    }
  }
}
