package graft.queries

import java.time.Instant

import org.apache.spark.sql.functions._

import graft.quakes.QuakeModel
import graft.quakes.QuakeModel.QuakeConfig
import graft.quakes.QuakePipeline

/** The reference pipeline itself (task.ts:160-261) as a registered query,
  * run over the checked-in fixture FeatureCollection (FIXTURES.md §2) with
  * a pinned `now`.
  *
  * The fixture lives here as STRUCTURED data ([[Fixture]]); both the
  * GeoJSON body the pipeline parses and the DuckDB oracle's VALUES rows
  * are generated from it, so the two inputs cannot drift. The oracle
  * reimplements every projection the reference performs — age/quality
  * filters, icon/intensity lookups (CASE generated from QuakeModel's
  * dictionaries), JS-toFixed-style number rendering (`printf`), and the
  * Pacific/Auckland local-time composite via DuckDB's ICU `timezone`
  * with the offset-derived NZST/NZDT name — so q50 is hash-checked
  * end-to-end, not just rows-counted. Byte-level golden verification
  * additionally lives in QuakePipelineSpec.
  */
object QuakeQueries {

  /** One GeoNet feature of the test fixture (FIXTURES.md §2.1 — covers
    * every filter/lookup branch: kept rows, over-age, quality='deleted',
    * off-dictionary mmi, the -1 dictionary key, and an NZDT-era instant).
    */
  final case class FixtureQuake(publicID: String, time: String,
      depth: Double, magnitude: Double, mmi: Int, locality: String,
      quality: String, lon: Double, lat: Double)

  val Fixture: Seq[FixtureQuake] = Seq(
    FixtureQuake("2026p000001", "2026-08-06T23:30:00.000Z", 12.3, 5.17, 6,
      "15 km east of Seddon", "best", 174.27, -41.67),
    FixtureQuake("2026p000002", "2026-08-06T23:59:00.000Z", 5.0, 3.95, 3,
      "10 km south of Taupo", "preliminary", 176.08, -38.80),
    FixtureQuake("2026p000003", "2026-07-01T00:00:00.000Z", 33.0, 4.50, 5,
      "old event beyond max age", "best", 173.00, -42.00),
    FixtureQuake("2026p000004", "2026-08-06T22:00:00.000Z", 8.0, 4.10, 4,
      "reclassified quarry blast", "deleted", 175.50, -40.50),
    FixtureQuake("2026p000005", "2026-08-06T12:00:00.000Z", 120.5, 6.82, 10,
      "deep, off-dictionary mmi", "best", 178.10, -37.90),
    FixtureQuake("2026p000006", "2026-01-15T03:00:00.000Z", 7.0, 5.05, -1,
      "NZDT-era event, dict key -1", "best", 172.60, -43.50)
  )

  /** The fixture rendered as the GeoNet API response body. */
  val FixtureJson: String = Fixture.map { q =>
    s"""{"type":"Feature","properties":{"publicID":"${q.publicID}",""" +
      s""""time":"${q.time}","depth":${q.depth},"magnitude":${q.magnitude},""" +
      s""""mmi":${q.mmi},"locality":"${q.locality}","quality":"${q.quality}"},""" +
      s""""geometry":{"type":"Point","coordinates":[${q.lon},${q.lat}]}}"""
  }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  /** Pinned run clock (FIXTURES.md §2.1). */
  val FixtureNowMs: Long = Instant.parse("2026-08-07T00:00:00Z").toEpochMilli

  /** q50 — full pipeline on the fixture, output flattened for the dump.
    * Expected kept set with defaults: publicIDs 1, 2, 5 (3 is over max
    * age, 4 is quality='deleted', 6 is over max age).
    */
  val q50QuakePipeline: Q = (s, _) => {
    val features = QuakePipeline.parseFeatureCollection(s, FixtureJson)
    QuakePipeline.transform(features, QuakeConfig(), FixtureNowMs)
      .select(col("id"),
        col("properties.callsign").as("callsign"),
        col("properties.icon").as("icon"),
        col("properties.stale").as("stale"),
        col("properties.metadata.intensity").as("intensity"),
        col("properties.metadata.timeLocal").as("time_local"),
        col("properties.remarks").as("remarks"),
        col("geometry.coordinates").getItem(0).as("lon"),
        col("geometry.coordinates").getItem(1).as("lat"),
        col("geometry.coordinates").getItem(2).as("alt"))
      .orderBy("id")
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `CASE mmi WHEN k THEN 'v' ... ELSE 'default' END` from a dictionary —
    * the oracle form of the map-literal icon (P4) / intensity (P5) lookups.
    */
  private def caseSql(dict: Map[Int, String], default: String): String =
    dict.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $k THEN ${sqlStr(v)}" }
      .mkString("CASE mmi ", " ", s" ELSE ${sqlStr(default)} END")

  val q50Sql: String = {
    val values = Fixture.map { q =>
      s"(${sqlStr(q.publicID)}, ${sqlStr(q.time)}, CAST(${q.depth} AS DOUBLE), " +
        s"CAST(${q.magnitude} AS DOUBLE), ${q.mmi}, ${sqlStr(q.locality)}, " +
        s"${sqlStr(q.quality)}, CAST(${q.lon} AS DOUBLE), CAST(${q.lat} AS DOUBLE))"
    }.mkString(",\n  ")
    val iconCase = caseSql(QuakeModel.MmiIcons, QuakeModel.DefaultIcon)
    val intensityCase = caseSql(QuakeModel.MmiIntensity, QuakeModel.DefaultIntensity)
    val maxAge = QuakeConfig().maxAgeMinutes
    s"""WITH features(publicID, time, depth, magnitude, mmi, locality, quality, lon, lat) AS (VALUES
       |  $values),
       |cfg AS (SELECT CAST($maxAge AS DOUBLE) AS max_age_minutes, $FixtureNowMs AS now_ms),
       |kept AS (
       |  SELECT f.*, c.now_ms,
       |         epoch_ms(CAST(f.time AS TIMESTAMPTZ)) AS event_ms,
       |         timezone('Pacific/Auckland', CAST(f.time AS TIMESTAMPTZ)) AS local_ts
       |  FROM features f, cfg c
       |  WHERE (c.now_ms - epoch_ms(CAST(f.time AS TIMESTAMPTZ))) / 60000.0 <= c.max_age_minutes
       |    AND (f.quality IS NULL OR f.quality <> 'deleted')),
       |ago AS (
       |  SELECT *,
       |    CASE WHEN mins < 60 THEN mins || ' minute' || (CASE WHEN mins = 1 THEN '' ELSE 's' END) || ' ago'
       |         WHEN mins // 60 < 24 THEN (mins // 60) || ' hour' || (CASE WHEN mins // 60 = 1 THEN '' ELSE 's' END) || ' ago'
       |         ELSE ((mins // 60) // 24) || ' day' || (CASE WHEN (mins // 60) // 24 = 1 THEN '' ELSE 's' END) || ' ago' END AS time_ago,
       |    CASE epoch_ms(local_ts) - event_ms WHEN 46800000 THEN 'NZDT' WHEN 43200000 THEN 'NZST' ELSE 'NZT' END AS tz_name
       |  FROM (SELECT *, CAST(floor((now_ms - event_ms) / 60000.0) AS BIGINT) AS mins FROM kept)),
       |locfmt AS (
       |  SELECT *,
       |    strftime(local_ts, '%d/%m/%Y') || ', ' || strftime(local_ts, '%H:%M')
       |      || ' ' || tz_name || ' (' || time_ago || ')' AS time_local,
       |    $intensityCase AS intensity,
       |    strftime(make_timestamp((now_ms + 300000) * 1000), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS stale
       |  FROM ago)
       |SELECT
       |  'earthquake-' || publicID AS id,
       |  'M' || printf('%.1f', magnitude) || ' ' || locality AS callsign,
       |  $iconCase AS icon,
       |  stale,
       |  intensity,
       |  time_local,
       |  'Magnitude: ' || printf('%.2f', magnitude) || chr(10) ||
       |  'MMI: ' || mmi || chr(10) ||
       |  'Intensity: ' || intensity || chr(10) ||
       |  'Location: ' || locality || chr(10) ||
       |  'Time (UTC): ' || time || chr(10) ||
       |  'Time (NZ): ' || time_local || chr(10) ||
       |  'Depth: ' || printf('%.1f', depth) || ' km' || chr(10) ||
       |  'Information Quality: ' || quality AS remarks,
       |  lon, lat, -depth AS alt
       |FROM locfmt
       |ORDER BY id""".stripMargin
  }

  /** q51 — the same pipeline fed by the `geonet` DataSource V2 connector
    * with the MMI≥5 predicate pushed into the source scan (F1 semantics,
    * task.ts:176); hash-checked against the same generated-VALUES oracle
    * with the MMI predicate applied relationally. The connector internals
    * are additionally covered by GeoNetSourceSpec/HttpTransportSpec.
    */
  val q51GeonetSource: Q = (s, _) => {
    val flat = s.read.format("geonet").option("body", FixtureJson).load()
      .filter(col("mmi") >= 5)
    QuakePipeline.transform(graft.sources.GeoNetSource.nest(flat),
        QuakeConfig(), FixtureNowMs)
      .select(col("id"), col("properties.callsign").as("callsign"),
        col("properties.metadata.intensity").as("intensity"))
      .orderBy("id")
  }

  val q51Sql: String = {
    val values = Fixture.map { q =>
      s"(${sqlStr(q.publicID)}, ${sqlStr(q.time)}, " +
        s"CAST(${q.magnitude} AS DOUBLE), ${q.mmi}, ${sqlStr(q.locality)}, " +
        s"${sqlStr(q.quality)})"
    }.mkString(",\n  ")
    val intensityCase = caseSql(QuakeModel.MmiIntensity, QuakeModel.DefaultIntensity)
    val maxAge = QuakeConfig().maxAgeMinutes
    s"""WITH features(publicID, time, magnitude, mmi, locality, quality) AS (VALUES
       |  $values)
       |SELECT 'earthquake-' || publicID AS id,
       |       'M' || printf('%.1f', magnitude) || ' ' || locality AS callsign,
       |       $intensityCase AS intensity
       |FROM features
       |WHERE mmi >= 5
       |  AND ($FixtureNowMs - epoch_ms(CAST(time AS TIMESTAMPTZ))) / 60000.0 <= $maxAge
       |  AND (quality IS NULL OR quality <> 'deleted')
       |ORDER BY id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q50_quake_pipeline" -> q50QuakePipeline,
    "q51_geonet_source" -> q51GeonetSource)
  val oracle: Map[String, String] = Map(
    "q50_quake_pipeline" -> q50Sql,
    "q51_geonet_source" -> q51Sql)
}
