package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.money

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Spark's watermarked streaming aggregates under MemoryStream: each
  * transform below, run incrementally, gives what it gives in batch.
  * The transforms live here, not in the engine: the registered queries
  * build their own (native `session_window` with a watermark in
  * q166/q221, keyed dedup in q181/q220), each with an oracle check.
  */
class EventStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Tumbling 10-minute counts with a 30-minute watermark. */
  private def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding 10-minute windows every 5 minutes, same watermark. */
  private def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows with a 30-minute gap, per user. */
  private def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Keyed dedup with watermark-bounded state. */
  private def dedupeByKey(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicates("event_id")

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  private def runStream(transform: DataFrame => DataFrame,
      name: String, mode: String)(batches: Seq[Ev]*): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = transform(source.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    batches.foreach { b => source.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("windowedCounts: incremental tumbling windows match batch result") {
    val evs = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 2.0),
      Ev(3, ts(12), 2, "view", 3.0), Ev(4, ts(25), 1, "click", 4.0))
    val streamed = runStream(windowedCounts, "wc", "complete")(evs)
    import spark.implicits._
    val batch = windowedCounts(evs.toDF())
    assert(streamed.collect().toSet == batch.collect().toSet)
    assert(streamed.count() == 3) // windows 00:00, 00:10, 00:20
  }

  test("slidingCounts: incremental overlapping windows match batch, " +
    "each event lands in exactly two") {
    val evs = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(7), 1, "click", 2.0),
      Ev(3, ts(12), 2, "view", 3.0))
    val streamed = runStream(slidingCounts, "slc", "complete")(
      evs.take(2), evs.drop(2))
    import spark.implicits._
    val batch = slidingCounts(evs.toDF())
    assert(streamed.collect().toSet == batch.collect().toSet)
    // span/slide = 2 covering windows per event
    assert(streamed.agg(sum("n")).collect().head.getLong(0) == evs.size * 2)
  }

  test("dedupeByKey drops re-delivered events across micro-batches") {
    val b1 = Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0))
    val b2 = Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(3, ts(3), 2, "click", 3.0))
    val out = runStream(dedupeByKey, "dd", "append")(b1, b2)
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("sessionCounts groups gap-separated activity into sessions") {
    // user 1: events at 00:01, 00:05 (one session), then 01:40 (new session,
    // gap > 30 min); a 03:00 event advances the watermark past both.
    val evs = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 1.0),
      Ev(3, Timestamp.valueOf("2024-01-01 01:40:00"), 1, "click", 1.0),
      Ev(4, Timestamp.valueOf("2024-01-01 03:00:00"), 2, "click", 1.0))
    val out = runStream(sessionCounts, "sc", "complete")(evs)
    val u1 = out.filter("user_id = 1").collect()
    assert(u1.length == 2)
    assert(u1.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }
}
