package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeRunner

/** A transport fake that records every exchange and serves canned
  * responses.
  */
final class FakeTransport(
    onGet: String => HttpResponse,
    onPost: (String, String) => HttpResponse =
      (_, _) => HttpResponse(200, "OK", "")) extends HttpTransport {
  val gets = scala.collection.mutable.ArrayBuffer[String]()
  val posts = scala.collection.mutable.ArrayBuffer[(String, String)]()
  override def get(url: String): HttpResponse = { gets += url; onGet(url) }
  override def post(url: String, body: String, ct: String): HttpResponse = {
    posts += ((url, body)); onPost(url, body)
  }
}

/** S1's live leg + K1's submit seam (reference task.ts:176-181, 251-260). */
class HttpTransportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ok(body: String): String => HttpResponse =
    _ => HttpResponse(200, "OK", body)

  /** Run `body` with `t` registered under a fresh `transport` id. */
  private def withRegistered[T](t: HttpTransport)(body: String => T): T = {
    val id = s"http-spec-${java.util.UUID.randomUUID()}"
    GeoNetHttp.registerTransport(id, t)
    try body(id) finally GeoNetHttp.unregisterTransport(id)
  }

  test("quakeUrl builds the reference's ?MMI= request (task.ts:176)") {
    assert(GeoNetHttp.quakeUrl(5) === "https://api.geonet.org.nz/quake?MMI=5")
    assert(GeoNetHttp.quakeUrl(-1) === "https://api.geonet.org.nz/quake?MMI=-1")
  }

  test("fetchBody throws the reference's message on non-2xx (task.ts:179-181)") {
    val t = new FakeTransport(_ => HttpResponse(503, "Service Unavailable", ""))
    val e = intercept[RuntimeException](GeoNetHttp.fetchBody(t, 5))
    assert(e.getMessage === "Failed to fetch data: 503 Service Unavailable")
  }

  test("live scan: pushed mmi filter becomes the request URL") {
    val t = new FakeTransport(ok(FixtureJson))
    withRegistered(t) { id =>
      val rows = spark.read.format("graft.sources.GeoNetTableProvider")
        .option("transport", id).load()
        .filter(col("mmi") >= 5)
        .select("publicID").collect().map(_.getString(0)).sorted.toSeq
      assert(t.gets.toSeq === Seq("https://api.geonet.org.nz/quake?MMI=5"))
      assert(rows === Seq("2026p000001", "2026p000003", "2026p000005"))
    }
  }

  test("live scan with no filter: `mmi` option, else reference default 5") {
    val t = new FakeTransport(ok(FixtureJson))
    withRegistered(t) { id =>
      spark.read.format("graft.sources.GeoNetTableProvider")
        .option("transport", id).option("mmi", "3").load().count()
      spark.read.format("graft.sources.GeoNetTableProvider")
        .option("transport", id).load().count()
      assert(t.gets.toSeq === Seq(
        "https://api.geonet.org.nz/quake?MMI=3",
        "https://api.geonet.org.nz/quake?MMI=5"))
    }
  }

  test("live scan via a REGISTERED transport id: no shared-var swap, so " +
    "concurrent queries can each carry their own client") {
    val t = new FakeTransport(ok(FixtureJson))
    GeoNetHttp.registerTransport("spec-fake", t)
    try {
      val n = spark.read.format("graft.sources.GeoNetTableProvider")
        .option("transport", "spec-fake")
        .option("mmi", "4").load().count()
      assert(n > 0)
      assert(t.gets.toSeq === Seq("https://api.geonet.org.nz/quake?MMI=4"))
    } finally GeoNetHttp.unregisterTransport("spec-fake")
  }

  test("an unknown transport id fails loudly instead of silently going " +
    "live (typo guard)") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.GeoNetTableProvider")
        .option("transport", "no-such-id").load().count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("unknown transport id 'no-such-id'"))), e.toString)
  }

  test("runner: full control() loop — logs, fetch, transform, submit") {
    val t = new FakeTransport(ok(FixtureJson))
    val logs = scala.collection.mutable.ArrayBuffer[String]()
    val n = QuakeRunner.run(spark, Map("MMI" -> "5"), "https://sink.example/fc",
      transport = t, nowMs = FixtureNowMs, log = logs += _)
    assert(n === 3)
    assert(logs.toSeq === Seq(
      "ok - Fetching earthquakes with MMI >= 5 from the last 10080 minutes",
      "ok - fetched 3 earthquakes"))
    assert(t.gets.toSeq === Seq("https://api.geonet.org.nz/quake?MMI=5"))
    val (url, payload) = t.posts.head
    assert(url === "https://sink.example/fc")
    assert(payload.startsWith("""{"type":"FeatureCollection","features":[{"id":"earthquake-2026p000001""""))
    assert(payload.contains(""""callsign":"M6.8 deep, off-dictionary mmi""""))
  }

  test("runner: submit failure propagates with the reference's shape") {
    val t = new FakeTransport(ok(FixtureJson),
      (_, _) => HttpResponse(401, "Unauthorized", ""))
    val e = intercept[RuntimeException] {
      QuakeRunner.run(spark, Map.empty, "https://sink.example/fc",
        transport = t, nowMs = FixtureNowMs, log = _ => ())
    }
    assert(e.getMessage === "Failed to submit data: 401 Unauthorized")
  }

  test("runner: invalid config throws before any network call") {
    val t = new FakeTransport(ok(FixtureJson))
    intercept[IllegalArgumentException] {
      QuakeRunner.run(spark, Map("MMI" -> "99"), "u", transport = t)
    }
    assert(t.gets.isEmpty && t.posts.isEmpty)
  }
}
