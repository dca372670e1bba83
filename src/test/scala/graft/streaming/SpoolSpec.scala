package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.StreamingQueries

/** The shared streaming spools' lifecycle contract (round-13 verdict
  * #7's machinery): built once, revalidated by fingerprint across
  * "processes" (simulated by clearing the in-JVM memo), memoized
  * within a process, and REBUILT — never silently served — when the
  * on-disk file set no longer matches the sidecar manifest.
  */
class SpoolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("ensure is built-or-reused on first access, memoized after; a " +
    "damaged data file fails the manifest check and triggers a " +
    "rebuild; the span metadata round-trips the sidecar") {
    StreamingQueries.resetSpools()
    val first = StreamingQueries.ensureEventSpool(spark, sf)
    assert(Set("built", "reused").contains(first), first)
    assert(StreamingQueries.ensureEventSpool(spark, sf) == "memoized")

    // a fresh "process" with an intact dir revalidates instead of
    // rebuilding
    StreamingQueries.resetSpools()
    assert(StreamingQueries.ensureEventSpool(spark, sf) == "reused")

    // sanity on the sidecar-carried span scalars: sentinel uid is
    // min(user)-1, and the spool serves a readable superset frame
    val sp = StreamingQueries.eventSpool(spark, sf)
    val span = graft.core.Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.min("user_id"),
        org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts")).head()
    assert(sp.sentinelUid == span.getLong(0) - 1)
    assert(sp.minTs == span.getTimestamp(1).getTime)
    assert(sp.maxTs == span.getTimestamp(2).getTime)
    val cols = spark.read.parquet(sp.dir).columns.toSet
    assert(Set("user_id", "ts", "event_id", "event_type", "value")
      .subsetOf(cols))

    // damage one data file: the manifest check must read this as
    // external damage and rebuild, not serve the corrupt layout
    val dir = new org.apache.hadoop.fs.Path(sp.dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .head.getPath
    fs.delete(victim, false)
    StreamingQueries.resetSpools()
    assert(StreamingQueries.ensureEventSpool(spark, sf) == "built")
    // and the rebuilt spool is whole again
    StreamingQueries.resetSpools()
    assert(StreamingQueries.ensureEventSpool(spark, sf) == "reused")
  }

  test("SPARK_GRAFT_SPOOL_FPT accepts 1 or 2 (unset = 2) and refuses " +
    "anything else by name") {
    assert(StreamingQueries.spoolFilesPerTrigger(None) == 2)
    assert(StreamingQueries.spoolFilesPerTrigger(Some("2")) == 2)
    assert(StreamingQueries.spoolFilesPerTrigger(Some("1")) == 1)
    Seq("3", "0", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](
        StreamingQueries.spoolFilesPerTrigger(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_SPOOL_FPT"), v)
    }
  }
}
