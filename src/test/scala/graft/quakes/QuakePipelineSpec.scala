package graft.quakes

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel._

/** Golden test of the full pipeline against the FIXTURES.md §2 fixture —
  * every filter/lookup branch of task.ts:187-249.
  */
class QuakePipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val features =
    QuakePipeline.parseFeatureCollection(spark, FixtureJson)

  private def run(cfg: QuakeConfig = QuakeConfig()) =
    QuakePipeline.transform(features, cfg, FixtureNowMs)

  /** from_json yields all-nullable fields; contract comparison is on
    * names + types (nullability is metadata Spark does not enforce).
    */
  private def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.map(f => StructField(f.name, norm(f.dataType))))
      case a: ArrayType => ArrayType(norm(a.elementType))
      case other => other
    }
  }

  test("fixture parses to 6 feature rows with the declared schema") {
    assert(features.count() == 6)
    assert(norm(features.schema) == norm(GeoNetFeatureSchema))
  }

  test("filters: age drops #3/#6, quality='deleted' drops #4 (task.ts:193,204)") {
    val ids = run().select("id").collect.map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("earthquake-2026p000001", "earthquake-2026p000002",
      "earthquake-2026p000005"))
  }

  test("age boundary: event exactly maxAge old is kept (strict > drop)") {
    // #3 is 2026-07-01T00:00:00Z -> exactly 53280 minutes before now
    val kept = run(QuakeConfig(maxAgeMinutes = 53280.0))
      .select("id").collect.map(_.getString(0)).toSet
    assert(kept.contains("earthquake-2026p000003"))
    val dropped = run(QuakeConfig(maxAgeMinutes = 53279.0))
      .select("id").collect.map(_.getString(0)).toSet
    assert(!dropped.contains("earthquake-2026p000003"))
  }

  test("output schema matches the CoT contract (task.ts:212-248)") {
    assert(norm(run().schema) == norm(CotFeatureSchema))
  }

  test("golden row #1: projection semantics end-to-end") {
    val r = run().filter("id = 'earthquake-2026p000001'").head
    val props = r.getStruct(r.fieldIndex("properties"))
    assert(props.getString(props.fieldIndex("callsign")) == "M5.2 15 km east of Seddon")
    assert(props.getString(props.fieldIndex("type")) == "a-o-X-i-g-e")
    assert(props.getString(props.fieldIndex("icon")) == MmiIcons(6))
    assert(props.getString(props.fieldIndex("time")) == "2026-08-06T23:30:00.000Z")
    assert(props.getString(props.fieldIndex("start")) == "2026-08-06T23:30:00.000Z")
    // stale = now + 5 min as ISO (task.ts:221)
    assert(props.getString(props.fieldIndex("stale")) == "2026-08-07T00:05:00.000Z")

    val md = props.getStruct(props.fieldIndex("metadata"))
    assert(md.getDouble(md.fieldIndex("magnitude")) == 5.17)
    assert(md.getInt(md.fieldIndex("mmi")) == 6)
    assert(md.getString(md.fieldIndex("intensity")) == "Strong")
    assert(md.getString(md.fieldIndex("quality")) == "best")
    assert(md.getString(md.fieldIndex("timeUTC")) == "2026-08-06T23:30:00.000Z")
    // 23:30Z Aug 6 = 11:30 NZST Aug 7; 30 whole minutes before now
    assert(md.getString(md.fieldIndex("timeLocal")) ==
      "07/08/2026, 11:30 NZST (30 minutes ago)")

    val remarks = props.getString(props.fieldIndex("remarks")).split("\n").toSeq
    assert(remarks == Seq(
      "Magnitude: 5.17",
      "MMI: 6",
      "Intensity: Strong",
      "Location: 15 km east of Seddon",
      "Time (UTC): 2026-08-06T23:30:00.000Z",
      "Time (NZ): 07/08/2026, 11:30 NZST (30 minutes ago)",
      "Depth: 12.3 km",
      "Information Quality: best"))

    val geom = r.getStruct(r.fieldIndex("geometry"))
    assert(geom.getString(geom.fieldIndex("type")) == "Point")
    // depth negated: CoT altitude up-positive (task.ts:246)
    assert(geom.getSeq[Double](geom.fieldIndex("coordinates")) ==
      Seq(174.27, -41.67, -12.3))
  }

  test("off-dictionary mmi=10: icon hit (Severe tier) but intensity default") {
    val r = run().filter("id = 'earthquake-2026p000005'").head
    val props = r.getStruct(r.fieldIndex("properties"))
    assert(props.getString(props.fieldIndex("icon")) == MmiIcons(10))
    val md = props.getStruct(props.fieldIndex("metadata"))
    assert(md.getString(md.fieldIndex("intensity")) == "Unknown")
  }

  test("NZDT-era event with dict key -1 (one-year window keeps #6)") {
    val r = run(QuakeConfig(maxAgeMinutes = 525600.0))
      .filter("id = 'earthquake-2026p000006'").head
    val props = r.getStruct(r.fieldIndex("properties"))
    // mmi=-1: icon dict miss -> default icon; intensity -1 -> Unnoticeable
    assert(props.getString(props.fieldIndex("icon")) == DefaultIcon)
    val md = props.getStruct(props.fieldIndex("metadata"))
    assert(md.getString(md.fieldIndex("intensity")) == "Unnoticeable")
    // 2026-01-15T03:00Z = 16:00 NZDT same day
    assert(md.getString(md.fieldIndex("timeLocal")).contains("15/01/2026, 16:00 NZDT"))
  }

  test("snapshot expiry (J2): omitted ids form the expired set") {
    val prev = run(QuakeConfig(maxAgeMinutes = 525600.0)) // keeps 1,2,3,5,6
    val cur = run() // keeps 1,2,5
    val expired = QuakePipeline.expiredIds(prev, cur)
      .collect.map(_.getString(0)).sorted.toSeq
    assert(expired == Seq("earthquake-2026p000003", "earthquake-2026p000006"))
  }

  test("FeatureCollection JSON assembly (K1, task.ts:251-254)") {
    val (json, _, _) = QuakePipeline.prepare(spark, QuakeConfig())
      .snapshotWithIds(spark, FixtureJson, FixtureNowMs)
    assert(json.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(json.contains(""""id":"earthquake-2026p000001""""))
  }
}
