package graft.quakes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel._

/** The prepared snapshot against the whole-collection formulation: one
  * `to_json` over `collect_list` of every feature behind a
  * single-partition shuffle. Both must agree byte for byte, ids in the
  * same order, on every feed shape and in every session time zone.
  */
class QuakeSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The oracle: the FeatureCollection as ONE `to_json` of a
    * `collect_list` aggregate.
    */
  private def collectListSnapshot(cot: DataFrame): (String, Seq[String]) = {
    val row = cot.agg(collect_list(struct(col("id"), col("type"),
        col("properties"), col("geometry"))).as("features"))
      .select(
        to_json(struct(lit("FeatureCollection").as("type"), col("features"))),
        expr("transform(features, f -> f.id)"))
      .head()
    (row.getString(0), row.getSeq[String](1))
  }

  /** Checks the prepared snapshot against the oracle and returns the
    * snapshot JSON and feature count.
    */
  private def assertSameSnapshot(body: String, cfg: QuakeConfig,
      nowMs: Long = FixtureNowMs, s: SparkSession = spark): (String, Long) = {
    val cot = QuakePipeline.transform(
      QuakePipeline.parseFeatureCollection(s, body), cfg, nowMs)
    val (oracleJson, oracleIds) = collectListSnapshot(cot)
    val (preparedJson, preparedN, preparedIds) =
      QuakePipeline.prepare(s, cfg).snapshotWithIds(s, body, nowMs)
    assert(preparedJson == oracleJson)
    assert(preparedIds == oracleIds)
    assert(preparedN == preparedIds.size)
    (preparedJson, preparedN)
  }

  private def count(body: String, cfg: QuakeConfig,
      nowMs: Long = FixtureNowMs): Long =
    assertSameSnapshot(body, cfg, nowMs)._2

  private def feature(id: Int, mmi: String, locality: String,
      magnitude: String = "4.2", depth: String = "10.5",
      time: String = "", coordinates: String = ""): String = {
    val t = if (time.nonEmpty) time
      else s"2026-08-06T23:${"%02d".format(id)}:00.000Z"
    val xy = if (coordinates.nonEmpty) coordinates else s"[17$id.25,-4$id.5]"
    s"""{"type":"Feature","properties":{"publicID":"2026p1000$id",""" +
      s""""time":"$t","depth":$depth,"magnitude":$magnitude,"mmi":$mmi,""" +
      s""""locality":"$locality","quality":"best"},""" +
      s""""geometry":{"type":"Point","coordinates":$xy}}"""
  }

  private def collection(features: String*): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  test("FIXTURES.md fixture: default and one-year windows") {
    assert(count(FixtureJson, QuakeConfig()) == 3)
    assert(count(FixtureJson, QuakeConfig(maxAgeMinutes = 525600.0)) == 5)
  }

  test("non-ASCII localities, null magnitude/depth, mmi outside one or " +
    "both dictionaries") {
    val body = collection(
      feature(1, "-1", "5 km north of Ōtaki"),
      feature(2, "0", "Whakatāne — \\\"offshore\\\" 🌊", magnitude = "null"),
      feature(3, "10", "Ōamaru\\\\coast", depth = "null"),
      feature(4, "11", "東 of Kaikōura", magnitude = "null", depth = "null"),
      feature(5, "12", "Te Anau"),
      feature(6, "6", "Rotorua"))
    assert(count(body, QuakeConfig()) == 6)
  }

  test("fields of the wrong type read as null, as PERMISSIVE mode does") {
    val body = collection(
      feature(1, "\"x\"", "Ōtaki"),
      feature(2, "5", "Whakatāne", depth = "\"3.2\""),
      feature(3, "4", "Te Anau", coordinates = "\"n/a\""),
      feature(4, "\"x\"", "Rotorua", depth = "\"3.2\"", coordinates = "\"n/a\""),
      feature(5, "7", "Kaikōura"))
    assert(count(body, QuakeConfig()) == 5)
  }

  test("a null quality keeps the feature, as JS does (`null !== 'deleted'`)") {
    val body = collection(
      feature(1, "5", "Ōtaki").replace(""""quality":"best"""", """"quality":null"""),
      feature(2, "5", "Rotorua").replace(""""quality":"best"""", """"quality":"deleted""""))
    val cfg = QuakeConfig(maxAgeMinutes = 525600.0)
    val (json, n) = assertSameSnapshot(body, cfg)
    assert(n == 1)
    assert(json.contains(""""id":"earthquake-2026p10001""""), json)
  }

  test("a short coordinates array reads its missing elements as null, as " +
    "JS writes `undefined` in an array") {
    val body = collection(
      feature(1, "5", "Ōtaki", coordinates = "[174.2]"),
      feature(2, "5", "Rotorua", coordinates = "[]"))
    val (json, n) = assertSameSnapshot(body, QuakeConfig(maxAgeMinutes = 525600.0))
    assert(n == 2)
    assert(json.contains(""""coordinates":[174.2,null,-10.5]"""), json)
    assert(json.contains(""""coordinates":[null,null,-10.5]"""), json)
  }

  test("timeAgo minute, hour and day boundaries between two run clocks") {
    val nowMs = FixtureNowMs
    def at(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    // one millisecond short of 1 minute, 1 hour and 1 day at nowMs;
    // exactly that old at nowMs + 1
    val body = collection(
      feature(1, "5", "Ōtaki", time = at(nowMs - 60000L + 1)),
      feature(2, "5", "Whakatāne", time = at(nowMs - 3600000L + 1)),
      feature(3, "5", "Te Anau", time = at(nowMs - 86400000L + 1)))
    val (before, _) = assertSameSnapshot(body, QuakeConfig(), nowMs)
    val (after, _) = assertSameSnapshot(body, QuakeConfig(), nowMs + 1)
    Seq("0 minutes ago", "59 minutes ago", "23 hours ago")
      .foreach(ago => assert(before.contains(ago), ago))
    Seq("1 minute ago", "1 hour ago", "1 day ago")
      .foreach(ago => assert(after.contains(ago), ago))
  }

  test("empty snapshot") {
    assert(count("""{"features":[]}""", QuakeConfig()) == 0)
    assert(count(FixtureJson, QuakeConfig(maxAgeMinutes = 0.0)) == 0)
    assert(assertSameSnapshot("""{"features":[]}""", QuakeConfig())._1 ==
      """{"type":"FeatureCollection","features":[]}""")
  }

  test("prepare keeps one snapshot per session and config, and refuses a " +
    "plan that is not Project/Filter over the feed scan") {
    val cfg = QuakeConfig(mmi = 3)
    val p = QuakePipeline.prepare(spark, cfg)
    assert(QuakePipeline.prepare(spark, cfg) eq p)
    assert(!(QuakePipeline.prepare(spark, QuakeConfig(mmi = 4)) eq p))
    val other = spark.newSession()
    assert(!(QuakePipeline.prepare(other, cfg) eq p))
    // a changed session setting is planned again, and the replaced
    // snapshot is released (its plan unpersisted) without breaking a run
    // that still holds it
    val before = QuakePipeline.prepare(other, cfg)
    val (beforeJson, _, _) = before.snapshotWithIds(other, FixtureJson, FixtureNowMs)
    other.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")
    val after = QuakePipeline.prepare(other, cfg)
    assert(!(after eq before))
    assert(QuakePipeline.prepare(other, cfg) eq after)
    assert(before.snapshotWithIds(other, FixtureJson, FixtureNowMs)._1 == beforeJson)
    assert(after.snapshotWithIds(other, FixtureJson, FixtureNowMs)._1 == beforeJson)
    val e = intercept[IllegalStateException](PreparedSnapshot(spark,
      spark.range(1).queryExecution.optimizedPlan, Map.empty))
    assert(e.getMessage.contains("Range"), e.getMessage)
  }

  test("the prepared plan hoists one run constant, `stale`") {
    val (constants, _) =
      PreparedSnapshot.compile(QuakePipeline.snapshotQuery(spark, QuakeConfig()))
    assert(constants.size == 1)
    assert(constants.head.eval(InternalRow(FixtureNowMs)) ==
      UTF8String.fromString("2026-08-07T00:05:00.000Z"))
  }

  test("expressions that mix `now` with row columns are not hoisted") {
    val rows = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      GeoNetFeatureSchema.add(StructField("now", LongType, nullable = false)))
    val p = col("properties")
    val eventMs = unix_millis(to_timestamp(p("time")))
    val query = rows.filter(col("now") - eventMs < 60000L)
      .select(col("now"), (col("now") + p("mmi")).as("plus"),
        array(col("now"), eventMs).as("both"))
      .queryExecution.optimizedPlan
    val (constants, steps) = PreparedSnapshot.compile(query)
    assert(constants.isEmpty)
    assert(steps.size == 2)
  }

  test("the snapshot does not depend on the session time zone") {
    val cfg = QuakeConfig(maxAgeMinutes = 525600.0)
    val (utc, _) = assertSameSnapshot(FixtureJson, cfg)
    // FIXTURES.md: stale is now + 5 min in UTC; event #1 is 11:30 NZST
    assert(utc.contains(""""stale":"2026-08-07T00:05:00.000Z""""))
    assert(utc.contains("07/08/2026, 11:30 NZST"))
    Seq("Pacific/Auckland", "America/Los_Angeles").foreach { tz =>
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      assert(assertSameSnapshot(FixtureJson, cfg, s = s)._1 == utc, tz)
    }
  }
}
