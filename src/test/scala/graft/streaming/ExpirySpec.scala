package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class KeyedObs(id: String, ts: Timestamp)
case class Expired(id: String, last_seen: Timestamp)

/** `flatMapGroupsWithState` with an event-time timeout: a per-key TTL
  * that emits a key once the watermark passes its last sighting plus
  * `staleMs`. This is not the sink's snapshot expiry (J2, a feature
  * absent from this run's snapshot expires), which
  * `QuakeStream.submitSnapshots` computes as `live -- current`.
  */
class ExpirySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def expireAfterTtl(events: Dataset[KeyedObs],
      staleMs: Long): Dataset[Expired] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.id)
      .flatMapGroupsWithState[Timestamp, Expired](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id: String, obs: Iterator[KeyedObs], state: GroupState[Timestamp]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(Expired(id, last))
          } else {
            val newest = obs.map(_.ts).maxBy(_.getTime)
            val last = state.getOption.fold(newest)(cur =>
              if (cur.after(newest)) cur else newest)
            state.update(last)
            state.setTimeoutTimestamp(last.getTime + staleMs)
            Iterator.empty
          }
      }
  }

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("keys that stop appearing expire once the watermark passes their TTL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[KeyedObs]
    val q = expireAfterTtl(source.toDS(), staleMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("expiry")
      .outputMode("append").start()

    // batch 1: A and B alive at t0
    source.addData(Seq(KeyedObs("A", t(0)), KeyedObs("B", t(0))))
    q.processAllAvailable()
    assert(spark.table("expiry").count() == 0)

    // batch 2: only B refreshes at t+10min -> watermark reaches t+10,
    // A's timeout (t0+5min) has passed -> A expires; B's TTL renewed
    source.addData(Seq(KeyedObs("B", t(10))))
    q.processAllAvailable()
    // one more batch so the timeout fires against the advanced watermark
    source.addData(Seq(KeyedObs("B", t(11))))
    q.processAllAvailable()

    val expired = spark.table("expiry").collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    q.stop()
    assert(expired.toSeq == Seq(("A", t(0))))
  }
}
