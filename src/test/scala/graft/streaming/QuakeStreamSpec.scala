package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.quakes.QuakeModel.QuakeConfig

/** File-source streaming wrapper: landed FeatureCollection snapshots are
  * micro-batches through the same prepared snapshot as QuakeRunner
  * (scheduled-batch semantics via Trigger.AvailableNow + foreachBatch
  * snapshot sink, which supports checkpoint recovery across restarts).
  */
class QuakeStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val fixtureClock = () => FixtureNowMs

  private def idsOf(payload: String): Seq[String] =
    """"id":"(earthquake-[^"]+)"""".r.findAllMatchIn(payload)
      .map(_.group(1)).toSeq.sorted

  test("landed snapshot files stream through the pipeline exactly once") {
    val dir = Files.createTempDirectory("quakes").toFile
    val checkpoint = Files.createTempDirectory("quakes-ckpt").toFile
    val seen = mutable.ListBuffer.empty[Seq[String]]

    def runOnce(): Unit = {
      val bodies = QuakeStream.landedBodies(spark, dir.getAbsolutePath)
      assert(bodies.isStreaming)
      val transport = new graft.sources.FakeTransport(
        _ => graft.sources.HttpResponse(200, "OK", ""))
      val q = QuakeStream.submitSnapshots(bodies, QuakeConfig(),
        "https://sink.example/cot", transport, checkpoint.getAbsolutePath,
        clock = fixtureClock)
      q.awaitTermination(60000)
      seen ++= transport.posts.map(p => idsOf(p._2))
    }

    // run 1: one landed file -> one snapshot batch, filters applied
    Files.writeString(new java.io.File(dir, "snap1.json").toPath, FixtureJson)
    runOnce()
    assert(seen.flatten.sorted == Seq("earthquake-2026p000001",
      "earthquake-2026p000002", "earthquake-2026p000005"))

    // run 2 (restart from checkpoint): only the newly landed file is
    // processed — the file source's checkpoint gives exactly-once per file
    seen.clear()
    Files.writeString(new java.io.File(dir, "snap2.json").toPath,
      FixtureJson.replace("2026p000001", "2026p000099"))
    runOnce()
    assert(seen.flatten.sorted == Seq("earthquake-2026p000002",
      "earthquake-2026p000005", "earthquake-2026p000099"))
  }

  test("snapshot expiry is cumulative across micro-batches AND restarts: " +
    "an id expires in the batch where it first goes missing (J2 streaming)") {
    val dir = Files.createTempDirectory("quakes-exp").toFile
    val checkpoint = Files.createTempDirectory("quakes-exp-ckpt").toFile
    val transport = new graft.sources.FakeTransport(
      _ => graft.sources.HttpResponse(200, "OK", ""))
    val expiredByBatch = mutable.ListBuffer.empty[(Long, Seq[String])]

    // every run is a FRESH AvailableNow invocation — the reference's cron
    // schedule — so any in-memory "previous snapshot" is lost between
    // snapshots and only the persisted expiry state can carry the live set
    def runOnce(): Unit = {
      val bodies = QuakeStream.landedBodies(spark, dir.getAbsolutePath)
      val q = QuakeStream.submitSnapshots(bodies, QuakeConfig(),
        "https://sink.example/cot", transport, checkpoint.getAbsolutePath,
        clock = fixtureClock,
        onExpired = (b, ids) => expiredByBatch.synchronized {
          expiredByBatch += ((b, ids))
        })
      q.awaitTermination(60000)
    }

    // batch 0: live {1,2,5} (post-filter), nothing to expire
    Files.writeString(new java.io.File(dir, "s1.json").toPath, FixtureJson)
    runOnce()
    // batch 1 (restart): 1 replaced by 99 -> 1 expires HERE, despite the
    // previous snapshot living only in persisted state
    Files.writeString(new java.io.File(dir, "s2.json").toPath,
      FixtureJson.replace("2026p000001", "2026p000099"))
    runOnce()
    // batch 2 (restart): 2 replaced by 98 -> exactly {2} expires (99 and 5
    // still live; 1 does NOT re-expire)
    Files.writeString(new java.io.File(dir, "s3.json").toPath,
      FixtureJson.replace("2026p000001", "2026p000099")
        .replace("2026p000002", "2026p000098"))
    runOnce()
    // batch 3 (restart): 5 — live since batch 0, never the "previous
    // batch's delta" — goes missing and expires in THIS batch
    Files.writeString(new java.io.File(dir, "s4.json").toPath,
      FixtureJson.replace("2026p000001", "2026p000099")
        .replace("2026p000002", "2026p000098")
        .replace("2026p000005", "2026p000097"))
    runOnce()

    assert(expiredByBatch.toList == List(
      0L -> Seq.empty,
      1L -> Seq("earthquake-2026p000001"),
      2L -> Seq("earthquake-2026p000002"),
      3L -> Seq("earthquake-2026p000005")))
    // the snapshot POST leg still fired once per batch
    assert(transport.posts.size == 4)
    assert(transport.posts.forall(_._1 == "https://sink.example/cot"))
    // state pruning: one micro-batch per run -> at most the current and
    // previous batch's .ids files survive (unbounded growth guard)
    val stateFiles = new java.io.File(checkpoint, "expiry-state")
      .listFiles().map(_.getName).filter(_.endsWith(".ids")).sorted
    assert(stateFiles.toSeq == Seq("2.ids", "3.ids"))
  }

  test("a multi-snapshot BACKLOG drains one file per batch, so ids " +
    "dropped between pending snapshots still expire (a downtime gap " +
    "must not merge snapshots into one union id-set)") {
    val dir = Files.createTempDirectory("quakes-bl").toFile
    val checkpoint = Files.createTempDirectory("quakes-bl-ckpt").toFile
    val transport = new graft.sources.FakeTransport(
      _ => graft.sources.HttpResponse(200, "OK", ""))
    val expiredByBatch = mutable.ListBuffer.empty[(Long, Seq[String])]

    // BOTH snapshots land before the consumer comes back up; modTimes
    // pin the file source's processing order
    val f1 = new java.io.File(dir, "s1.json")
    val f2 = new java.io.File(dir, "s2.json")
    Files.writeString(f1.toPath, FixtureJson)
    Files.writeString(f2.toPath,
      FixtureJson.replace("2026p000001", "2026p000099"))
    f1.setLastModified(System.currentTimeMillis() - 60000)
    f2.setLastModified(System.currentTimeMillis() - 30000)

    val bodies = QuakeStream.landedBodies(spark, dir.getAbsolutePath)
    val q = QuakeStream.submitSnapshots(bodies, QuakeConfig(),
      "https://sink.example/cot", transport, checkpoint.getAbsolutePath,
      clock = fixtureClock,
      onExpired = (b, ids) => expiredByBatch.synchronized {
        expiredByBatch += ((b, ids))
      })
    q.awaitTermination(60000)

    assert(expiredByBatch.toList == List(
      0L -> Seq.empty,
      1L -> Seq("earthquake-2026p000001")))
    assert(transport.posts.size == 2)
  }

  test("each batch reads the clock once: ten minutes on, stale moves " +
    "with it and a feature that aged out in between is dropped and expired") {
    val dir = Files.createTempDirectory("quakes-clock").toFile
    val checkpoint = Files.createTempDirectory("quakes-clock-ckpt").toFile
    val transport = new graft.sources.FakeTransport(
      _ => graft.sources.HttpResponse(200, "OK", ""))
    val expiredByBatch = mutable.ListBuffer.empty[(Long, Seq[String])]

    // the same feed lands twice; #5 (2026-08-06T12:00Z) is 720 minutes
    // old at the first clock and 730 at the second, so a 725-minute
    // window keeps it once
    val f1 = new java.io.File(dir, "s1.json")
    val f2 = new java.io.File(dir, "s2.json")
    Files.writeString(f1.toPath, FixtureJson)
    Files.writeString(f2.toPath, FixtureJson)
    f1.setLastModified(System.currentTimeMillis() - 60000)
    f2.setLastModified(System.currentTimeMillis() - 30000)
    // one stream definition, two batches; a third read would throw
    val clock = Iterator(FixtureNowMs, FixtureNowMs + 10 * 60000L)

    val q = QuakeStream.submitSnapshots(
      QuakeStream.landedBodies(spark, dir.getAbsolutePath),
      QuakeConfig(maxAgeMinutes = 725.0), "https://sink.example/cot",
      transport, checkpoint.getAbsolutePath, clock = () => clock.next(),
      onExpired = (b, ids) => expiredByBatch.synchronized {
        expiredByBatch += ((b, ids))
      })
    q.awaitTermination(60000)

    assert(transport.posts.size == 2)
    val Seq(first, second) = transport.posts.map(_._2).toSeq
    assert(idsOf(first) == Seq("earthquake-2026p000001",
      "earthquake-2026p000002", "earthquake-2026p000005"))
    assert(first.contains(""""stale":"2026-08-07T00:05:00.000Z""""))
    assert(idsOf(second) == Seq("earthquake-2026p000001",
      "earthquake-2026p000002"))
    assert(second.contains(""""stale":"2026-08-07T00:15:00.000Z""""))
    assert(!second.contains("2026-08-07T00:05:00.000Z"))
    assert(expiredByBatch.toList == List(
      0L -> Seq.empty,
      1L -> Seq("earthquake-2026p000005")))
  }

  test("a truncated landed file fails the query with `Failed to parse " +
    "data` before it is POSTed, and expires nothing") {
    val dir = Files.createTempDirectory("quakes-bad").toFile
    val checkpoint = Files.createTempDirectory("quakes-bad-ckpt").toFile
    val transport = new graft.sources.FakeTransport(
      _ => graft.sources.HttpResponse(200, "OK", ""))
    val expiredByBatch = mutable.ListBuffer.empty[(Long, Seq[String])]

    val f1 = new java.io.File(dir, "s1.json")
    val f2 = new java.io.File(dir, "s2.json")
    Files.writeString(f1.toPath, FixtureJson)
    Files.writeString(f2.toPath, FixtureJson.take(FixtureJson.length / 2))
    f1.setLastModified(System.currentTimeMillis() - 60000)
    f2.setLastModified(System.currentTimeMillis() - 30000)

    val q = QuakeStream.submitSnapshots(
      QuakeStream.landedBodies(spark, dir.getAbsolutePath), QuakeConfig(),
      "https://sink.example/cot", transport, checkpoint.getAbsolutePath,
      clock = fixtureClock,
      onExpired = (b, ids) => expiredByBatch.synchronized {
        expiredByBatch += ((b, ids))
      })
    val e = intercept[StreamingQueryException](q.awaitTermination(60000))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("Failed to parse data")),
      messages(e).mkString(" | "))
    assert(transport.posts.size == 1)
    assert(idsOf(transport.posts.head._2) == Seq("earthquake-2026p000001",
      "earthquake-2026p000002", "earthquake-2026p000005"))
    assert(expiredByBatch.toList == List(0L -> Seq.empty))
  }
}
