package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel.QuakeConfig
import graft.quakes.QuakePipeline

class GeoNetSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def load() = spark.read
    .format("graft.sources.GeoNetTableProvider")
    .option("body", FixtureJson).load()

  test("reads a FeatureCollection body as flat rows") {
    val df = load()
    assert(df.schema == GeoNetSource.FlatSchema)
    assert(df.count() == 6)
    val r = df.filter("publicID = '2026p000001'").head
    assert(r.getDouble(r.fieldIndex("lon")) == 174.27)
    assert(r.getInt(r.fieldIndex("mmi")) == 6)
  }

  test("mmi >= filter is pushed into the scan (F1, task.ts:176)") {
    val df = load().filter(col("mmi") >= 5)
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("mmiPushed=5"), scanDesc.take(2000))
    // rows filtered at the source: mmi 6, 5, 10 survive; 3, 4, -1 do not
    assert(df.select("publicID").collect.map(_.getString(0)).sorted.toSeq ==
      Seq("2026p000001", "2026p000003", "2026p000005"))
  }

  test("strict > pushes as >= v+1 on the integral mmi") {
    val df = load().filter(col("mmi") > 5)
    assert(df.queryExecution.executedPlan.toString.contains("mmiPushed=6"))
    assert(df.count() == 2) // mmi 6 and 10
  }

  test("non-mmi predicates stay with Spark, conjunction still correct") {
    val df = load().filter(col("mmi") >= 5 && col("quality") === "best")
    assert(df.queryExecution.executedPlan.toString.contains("mmiPushed=5"))
    assert(df.count() == 3)
  }

  test("column pruning reaches the parser") {
    val df = load().select("publicID", "magnitude")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=publicID,magnitude"), scanDesc.take(2000))
    assert(df.count() == 6)
  }

  test("end-to-end: geonet source -> nest -> pipeline matches from_json path") {
    val viaSource = QuakePipeline.transform(
      GeoNetSource.nest(load()), QuakeConfig(), FixtureNowMs)
    val viaJson = QuakePipeline.transform(
      QuakePipeline.parseFeatureCollection(spark, FixtureJson),
      QuakeConfig(), FixtureNowMs)
    assert(viaSource.collect().toSet == viaJson.collect().toSet)
  }

  private val feature = """{"type":"Feature","properties":{""" +
    """"publicID":"2026p000001","time":"2026-08-06T23:30:00.000Z",""" +
    """"depth":12.3,"magnitude":5.17,"mmi":6,""" +
    """"locality":"15 km east of Seddon","quality":"best"},""" +
    """"geometry":{"type":"Point","coordinates":[174.27,-41.67]}}"""

  /** A FeatureCollection of `feature`, each `from -> to` replaced. */
  private def oneFeature(edits: (String, String)*): String = {
    val f = edits.foldLeft(feature) { case (acc, (from, to)) => acc.replace(from, to) }
    s"""{"type":"FeatureCollection","features":[$f]}"""
  }

  test("the flat view reads every null or odd field as the snapshot's " +
    "parser does") {
    val noId = oneFeature(""""publicID":"2026p000001",""" -> "")
    val noMmi = oneFeature(""""mmi":6""" -> """"mmi":null""")
    val lonOnly = oneFeature("[174.27,-41.67]" -> "[174.2]")
    val noLonLat = oneFeature("[174.27,-41.67]" -> "[]")
    val bodies = Seq(noId, noMmi, lonOnly, noLonLat,
      oneFeature(""""quality":"best"""" -> """"quality":null"""),
      oneFeature(""""locality":"15 km east of Seddon"""" -> """"locality":null"""),
      oneFeature(""""depth":12.3,""" -> ""),
      oneFeature(""""mmi":6""" -> """"mmi":"6""""),
      oneFeature(""","coordinates":[174.27,-41.67]""" -> ""))
    val cfg = QuakeConfig(maxAgeMinutes = 525600.0)
    def flat(body: String) = spark.read.format("geonet").option("body", body).load()
    for (body <- bodies) {
      val viaSource = QuakePipeline.transform(GeoNetSource.nest(flat(body)), cfg,
        FixtureNowMs).toJSON.collect().toSeq
      val viaJson = QuakePipeline.transform(
        QuakePipeline.parseFeatureCollection(spark, body), cfg, FixtureNowMs)
        .toJSON.collect().toSeq
      assert(viaSource == viaJson, body)
    }
    assert(flat(noId).head().isNullAt(0)) // publicID
    // a short coordinates array reads its missing elements as null
    assert(flat(lonOnly).select("lon", "lat").head() == Row(174.2, null))
    assert(flat(noLonLat).select("lon", "lat").head() == Row(null, null))
    // a null mmi fails the pushed mmi >= v, as SQL would
    assert(flat(noMmi).count() == 1 && flat(noMmi).filter(col("mmi") >= -1).count() == 0)
  }

  test("a body that is not a FeatureCollection fails the flat view with " +
    "Failed to parse data") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (body <- Seq("{}", FixtureJson.dropRight(20))) {
      val e = intercept[Exception](
        spark.read.format("geonet").option("body", body).load().collect())
      assert(messages(e).exists(_.contains("Failed to parse data")),
        s"$body: ${messages(e).mkString(" | ")}")
    }
  }
}
