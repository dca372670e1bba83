package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel.QuakeConfig
import graft.sources.{FakeTransport, GeoNetHttp, GeoNetSource, HttpResponse,
  HttpTransport}

/** The reference's cron loop as a continuous query: geonet micro-batch
  * source (one fetch per trigger) → the SAME prepared snapshot as
  * QuakeRunner → per-snapshot FeatureCollection submit (streaming K1).
  */
class GeoNetStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newCheckpoint(): String =
    Files.createTempDirectory("graft-geonet-ckpt").toString

  /** Run `body` with `t` registered under a fresh `transport` id. */
  private def withRegistered[T](t: HttpTransport)(body: String => T): T = {
    val id = s"geonet-streaming-spec-${java.util.UUID.randomUUID()}"
    GeoNetHttp.registerTransport(id, t)
    try body(id) finally GeoNetHttp.unregisterTransport(id)
  }

  test("AvailableNow run = exactly one live fetch, one submitted snapshot") {
    val t = new FakeTransport(_ => HttpResponse(200, "OK", FixtureJson))
    withRegistered(t) { id =>
      val bodies = QuakeStream.geonetBodies(spark, QuakeConfig(),
        Map("transport" -> id))
      val q = QuakeStream.submitSnapshots(bodies, QuakeConfig(),
        "https://sink.example/fc", t, newCheckpoint(),
        clock = () => FixtureNowMs)
      q.awaitTermination()
      assert(t.gets.toSeq === Seq("https://api.geonet.org.nz/quake?MMI=5"))
      assert(t.posts.size === 1)
      val payload = t.posts.head._2
      assert(payload.contains(""""id":"earthquake-2026p000001""""))
      assert(payload.contains(""""id":"earthquake-2026p000002""""))
      assert(payload.contains(""""id":"earthquake-2026p000005""""))
      assert(!payload.contains("2026p000004")) // quality='deleted' excluded
    }
  }

  test("the body stream fetches the sink's MMI, over any mmi option " +
    "(task.ts:176)") {
    val t = new FakeTransport(_ => HttpResponse(200, "OK", FixtureJson))
    withRegistered(t) { id =>
      val cfg = QuakeConfig(mmi = 3)
      val bodies = QuakeStream.geonetBodies(spark, cfg,
        Map("MMI" -> "5", "transport" -> id))
      QuakeStream.submitSnapshots(bodies, cfg, "https://sink.example/fc", t,
        newCheckpoint(), clock = () => FixtureNowMs).awaitTermination()
      assert(t.gets.toSeq === Seq("https://api.geonet.org.nz/quake?MMI=3"))
      assert(t.posts.size === 1)
    }
  }

  test("restart from the same checkpoint fetches the NEXT snapshot " +
    "(re-invocation is the schedule)") {
    val t = new FakeTransport(_ => HttpResponse(200, "OK", FixtureJson))
    withRegistered(t) { id =>
      val ckpt = newCheckpoint()
      def runOnce(): Unit = {
        val bodies = QuakeStream.geonetBodies(spark, QuakeConfig(),
          Map("transport" -> id))
        QuakeStream.submitSnapshots(bodies, QuakeConfig(),
          "https://sink.example/fc", t, ckpt,
          clock = () => FixtureNowMs).awaitTermination()
      }
      runOnce()
      runOnce()
      assert(t.gets.size === 2, t.gets)
      assert(t.posts.size === 2)
    }
  }

  test("a failing live fetch fails the streaming query with the " +
    "reference's message (task.ts:179-181)") {
    val t = new FakeTransport(_ => HttpResponse(502, "Bad Gateway", ""))
    withRegistered(t) { id =>
      val flat = spark.readStream.format("graft.sources.GeoNetTableProvider")
        .option("transport", id).load()
      val q = flat.writeStream.format("memory").queryName("geonet_fail")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", newCheckpoint())
        .start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("Failed to fetch data: 502 Bad Gateway")),
        messages(e).mkString(" | "))
    }
  }

  test("streaming scan still honors body option and the source schema") {
    val flat = spark.readStream.format("graft.sources.GeoNetTableProvider")
      .option("body", FixtureJson).load()
    assert(flat.isStreaming)
    assert(flat.schema === GeoNetSource.FlatSchema)
    val out = flat.filter(col("mmi") >= 5)
      .writeStream.format("memory").queryName("geonet_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", newCheckpoint())
      .start()
    out.awaitTermination()
    val ids = spark.table("geonet_mem").select("publicID")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ids === Seq("2026p000001", "2026p000003", "2026p000005"))
  }

  test("the read schema selects the body view: one row per fetch, the " +
    "response text itself; any other schema is refused") {
    val bodies = QuakeStream.geonetBodies(spark, QuakeConfig(),
      Map("body" -> FixtureJson))
    assert(bodies.isStreaming)
    assert(bodies.schema === GeoNetSource.BodySchema)
    val q = bodies.writeStream.format("memory").queryName("geonet_bodies")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", newCheckpoint())
      .start()
    q.awaitTermination()
    assert(spark.table("geonet_bodies").collect().map(_.getString(0)).toSeq ===
      Seq(FixtureJson))
    val e = intercept[IllegalArgumentException](
      spark.read.format("geonet").schema("publicID STRING").load())
    assert(e.getMessage.contains("BodySchema"), e.getMessage)
  }
}
