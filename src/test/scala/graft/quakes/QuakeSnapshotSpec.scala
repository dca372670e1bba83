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
  * same order, on every feed shape of [[cases]] and in every session time
  * zone. The prepared snapshot writes each feature's JSON with its own
  * writer, so the odd values here (control characters, NaN, null array
  * elements, null fields a session asks to keep) check that writer
  * against Spark's.
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

  private val OneYear = QuakeConfig(maxAgeMinutes = 525600.0)

  private val oddValues = collection(
    feature(1, "-1", "5 km north of Ōtaki"),
    feature(2, "0", "Whakatāne — \\\"offshore\\\" 🌊", magnitude = "null"),
    feature(3, "10", "Ōamaru\\\\coast", depth = "null"),
    feature(4, "11", "東 of Kaikōura", magnitude = "null", depth = "null"),
    feature(5, "12", "Te Anau"),
    feature(6, "6", "Rotorua"))

  private val wrongTypes = collection(
    feature(1, "\"x\"", "Ōtaki"),
    feature(2, "5", "Whakatāne", depth = "\"3.2\""),
    feature(3, "4", "Te Anau", coordinates = "\"n/a\""),
    feature(4, "\"x\"", "Rotorua", depth = "\"3.2\"", coordinates = "\"n/a\""),
    feature(5, "7", "Kaikōura"))

  private val nullQuality = collection(
    feature(1, "5", "Ōtaki").replace(""""quality":"best"""", """"quality":null"""),
    feature(2, "5", "Rotorua").replace(""""quality":"best"""", """"quality":"deleted""""))

  private val shortCoordinates = collection(
    feature(1, "5", "Ōtaki", coordinates = "[174.2]"),
    feature(2, "5", "Rotorua", coordinates = "[]"))

  /** U+0001, U+001F, tab and newline, which JSON must escape. */
  private val controlCharacters = collection(
    feature(1, "5", "Ōtaki\\u0001bell"),
    feature(2, "5", "Rotorua\\tinland\\n\\u001fend"))

  /** The feed reader reads the strings `"NaN"`, `"Infinity"` and
    * `"-Infinity"` in a number field as those doubles. (A bare `NaN`
    * token fails the body, as `JSON.parse` fails it.)
    */
  private val nonFinite = collection(
    feature(1, "5", "Ōtaki", magnitude = "\"NaN\"", depth = "\"Infinity\""),
    feature(2, "5", "Rotorua", magnitude = "\"Infinity\"", depth = "\"-Infinity\""),
    feature(3, "5", "Te Anau", magnitude = "\"-Infinity\"", depth = "\"NaN\""))

  private val nullCoordinate = collection(
    feature(1, "5", "Ōtaki", coordinates = "[174.2,null]"),
    feature(2, "5", "Rotorua", coordinates = "[null,-41.5,7]"))

  /** Magnitude 1.295 and depth 2.15 are just below a tie in binary, so
    * JS `toFixed` rounds them down where the JVM formatter rounds up.
    */
  private val toFixedTies = collection(
    feature(1, "5", "Ōtaki", magnitude = "1.295", depth = "2.15"))

  /** Every feed of this spec with a window that keeps its features: the
    * cases checked in each session time zone.
    */
  private val cases: Seq[(String, String, QuakeConfig)] = Seq(
    ("fixture", FixtureJson, OneYear),
    ("odd values", oddValues, QuakeConfig()),
    ("wrong types", wrongTypes, QuakeConfig()),
    ("null quality", nullQuality, OneYear),
    ("short coordinates", shortCoordinates, OneYear),
    ("control characters", controlCharacters, OneYear),
    ("non-finite numbers", nonFinite, OneYear),
    ("null coordinate", nullCoordinate, OneYear),
    ("toFixed ties", toFixedTies, OneYear))

  test("FIXTURES.md fixture: default and one-year windows") {
    assert(count(FixtureJson, QuakeConfig()) == 3)
    assert(count(FixtureJson, QuakeConfig(maxAgeMinutes = 525600.0)) == 5)
  }

  test("non-ASCII localities, null magnitude/depth, mmi outside one or " +
    "both dictionaries") {
    assert(count(oddValues, QuakeConfig()) == 6)
  }

  test("fields of the wrong type read as null, as PERMISSIVE mode does") {
    assert(count(wrongTypes, QuakeConfig()) == 5)
  }

  test("a null quality keeps the feature, as JS does (`null !== 'deleted'`)") {
    val (json, n) = assertSameSnapshot(nullQuality, OneYear)
    assert(n == 1)
    assert(json.contains(""""id":"earthquake-2026p10001""""), json)
  }

  test("a short coordinates array reads its missing elements as null, as " +
    "JS writes `undefined` in an array") {
    val (json, n) = assertSameSnapshot(shortCoordinates, OneYear)
    assert(n == 2)
    assert(json.contains(""""coordinates":[174.2,null,-10.5]"""), json)
    assert(json.contains(""""coordinates":[null,null,-10.5]"""), json)
  }

  test("control characters in a locality are escaped as Spark's JSON writer " +
    "escapes them") {
    val (json, n) = assertSameSnapshot(controlCharacters, OneYear)
    assert(n == 2)
    assert(json.contains("\"locality\":\"Ōtaki\\u0001bell\""), json)
    assert(json.contains("\"locality\":\"Rotorua\\tinland\\n\\u001Fend\""), json)
  }

  test("NaN and infinite magnitudes and depths are written as Spark writes " +
    "them, and render as JS renders them") {
    val (json, n) = assertSameSnapshot(nonFinite, OneYear)
    assert(n == 3)
    assert(json.contains(""""magnitude":"NaN""""), json)
    assert(json.contains(""""coordinates":[171.25,-41.5,"-Infinity"]"""), json)
    Seq("MNaN Ōtaki", "MInfinity Rotorua", "M-Infinity Te Anau")
      .foreach(c => assert(json.contains(s""""callsign":"$c""""), c))
    assert(json.contains("Depth: -Infinity km"), json)
    val bare = intercept[RuntimeException](QuakePipeline.prepare(spark, OneYear)
      .snapshotWithIds(spark, nonFinite.replace("\"NaN\"", "NaN"), FixtureNowMs))
    assert(bare.getMessage.startsWith("Failed to parse data"), bare.getMessage)
  }

  test("a null coordinate element is written as null") {
    val (json, _) = assertSameSnapshot(nullCoordinate, OneYear)
    assert(json.contains(""""coordinates":[174.2,null,-10.5]"""), json)
    assert(json.contains(""""coordinates":[null,-41.5,-10.5]"""), json)
  }

  test("a session with ignoreNullFields=false writes null fields as null") {
    val s = spark.newSession()
    s.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    val body = collection(
      feature(1, "null", "Ōtaki", magnitude = "null", coordinates = "[174.2,null]"))
    val (json, n) = assertSameSnapshot(body, OneYear, s = s)
    assert(n == 1)
    assert(json.contains(""""magnitude":null,"mmi":null,"""), json)
  }

  test("a null mmi, locality or quality prints null on its remarks line, as " +
    "a JS template literal does: the remarks always have 8 lines") {
    val base = collection(feature(1, "5", "Ōtaki"))
    Seq(
      (base.replace(""""mmi":5""", """"mmi":null"""), "MMI: null"),
      (base.replace(""""locality":"Ōtaki"""", """"locality":null"""),
        "Location: null"),
      (base.replace(""""quality":"best"""", """"quality":null"""),
        "Information Quality: null"))
      .foreach { case (body, line) =>
        assert(body != base, line)
        val (json, n) = assertSameSnapshot(body, OneYear)
        assert(n == 1)
        val remarks = """"remarks":"((?:[^"\\]|\\.)*)"""".r
          .findFirstMatchIn(json).map(_.group(1)).getOrElse(fail(json))
          .split("""\\n""", -1).toSeq
        assert(remarks.size == 8, json)
        assert(remarks.contains(line), json)
      }
  }

  test("magnitude 1.295 and depth 2.15 render as JS toFixed renders them") {
    // node: (1.295).toFixed(1) is 1.3, (1.295).toFixed(2) is 1.29 and
    // (2.15).toFixed(1) is 2.1; the JVM's %.2f and %.1f give 1.30 and 2.2
    val (json, _) = assertSameSnapshot(toFixedTies, OneYear)
    assert(json.contains(""""callsign":"M1.3 Ōtaki""""), json)
    assert(json.contains("\"remarks\":\"Magnitude: 1.29\\nMMI: 5\\n"), json)
    assert(json.contains("\\nDepth: 2.1 km\\nInformation Quality: best\""), json)
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

  test("prepare refuses a feature struct holding a type the JSON writer " +
    "does not write") {
    val rows = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      GeoNetFeatureSchema.add(StructField("now", LongType, nullable = false)))
    val query = rows.select(struct((col("now") > 0).as("late")).as("feature"),
        col("properties.publicID").as("id"))
      .queryExecution.optimizedPlan
    val e = intercept[IllegalStateException](PreparedSnapshot(spark, query, Map.empty))
    assert(e.getMessage.contains("no JSON writer for BOOLEAN"), e.getMessage)
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
    val (utc, _) = assertSameSnapshot(FixtureJson, OneYear)
    // FIXTURES.md: stale is now + 5 min in UTC; event #1 is 11:30 NZST
    assert(utc.contains(""""stale":"2026-08-07T00:05:00.000Z""""))
    assert(utc.contains("07/08/2026, 11:30 NZST"))
    val sessions = Seq("Pacific/Auckland", "America/Los_Angeles").map { tz =>
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      tz -> s
    }
    cases.foreach { case (name, body, cfg) =>
      val (json, _) = assertSameSnapshot(body, cfg)
      sessions.foreach { case (tz, s) =>
        assert(assertSameSnapshot(body, cfg, s = s)._1 == json, s"$name in $tz")
      }
    }
  }
}
