package graft.quakes

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel._

/** The per-partition `to_json` snapshot against the whole-collection
  * formulation it replaced: one `to_json` over `collect_list` of every
  * feature behind a single-partition shuffle. The two must agree byte
  * for byte, ids in the same order, on every feed shape.
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

  private def assertSameSnapshot(body: String, cfg: QuakeConfig): Long = {
    val cot = QuakePipeline.transform(
      QuakePipeline.parseFeatureCollection(spark, body), cfg, FixtureNowMs)
    val (json, n, ids) = QuakePipeline.snapshotWithIds(cot)
    val (oracleJson, oracleIds) = collectListSnapshot(cot)
    assert(json == oracleJson)
    assert(ids == oracleIds)
    assert(n == ids.size)
    n
  }

  private def feature(id: Int, mmi: Int, locality: String,
      magnitude: String = "4.2", depth: String = "10.5"): String =
    s"""{"type":"Feature","properties":{"publicID":"2026p1000$id",""" +
      s""""time":"2026-08-06T23:${"%02d".format(id)}:00.000Z",""" +
      s""""depth":$depth,"magnitude":$magnitude,"mmi":$mmi,""" +
      s""""locality":"$locality","quality":"best"},""" +
      s""""geometry":{"type":"Point","coordinates":[17$id.25,-4$id.5]}}"""

  test("FIXTURES.md fixture: default and one-year windows") {
    assert(assertSameSnapshot(FixtureJson, QuakeConfig()) == 3)
    assert(assertSameSnapshot(FixtureJson,
      QuakeConfig(maxAgeMinutes = 525600.0)) == 5)
  }

  test("non-ASCII localities, null magnitude/depth, mmi outside one or " +
    "both dictionaries") {
    val body = Seq(
      feature(1, -1, "5 km north of Ōtaki"),
      feature(2, 0, "Whakatāne — \\\"offshore\\\" 🌊", magnitude = "null"),
      feature(3, 10, "Ōamaru\\\\coast", depth = "null"),
      feature(4, 11, "東 of Kaikōura", magnitude = "null", depth = "null"),
      feature(5, 12, "Te Anau"),
      feature(6, 6, "Rotorua")
    ).mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    assert(assertSameSnapshot(body, QuakeConfig()) == 6)
  }

  test("empty snapshot") {
    assert(assertSameSnapshot("""{"features":[]}""", QuakeConfig()) == 0)
    assert(assertSameSnapshot(FixtureJson, QuakeConfig(maxAgeMinutes = 0.0)) == 0)
    assert(QuakePipeline.toFeatureCollectionJson(QuakePipeline.transform(
      QuakePipeline.parseFeatureCollection(spark, """{"features":[]}"""),
      QuakeConfig(), FixtureNowMs)) ==
      """{"type":"FeatureCollection","features":[]}""")
  }
}
