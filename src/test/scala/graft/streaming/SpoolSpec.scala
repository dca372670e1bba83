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

  private def ensure(recipe: StreamingQueries.SpoolRecipe): String =
    StreamingQueries.ensureSpool(spark, sf, recipe)

  /** The spool's data files as (modification time, min doc_id, max
    * doc_id), in the file source's processing order.
    */
  private def stampedFiles(dir: String): Seq[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{max, min}
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(st => (st.getModificationTime, st.getPath.getName)).toSeq
      .map { st =>
        val r = spark.read.parquet(st.getPath.toString)
          .agg(min("doc_id"), max("doc_id")).head()
        (st.getModificationTime, r.getLong(0), r.getLong(1))
      }
  }

  private def docIdSpan(): (Long, Long) = {
    import org.apache.spark.sql.functions.{max, min}
    val r = graft.core.Tables.documents(spark, sf)
      .agg(min("doc_id"), max("doc_id")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** built (or reused from an earlier process), then memoized, then
    * reused once the memo is forgotten.
    */
  private def assertLifecycle(recipe: StreamingQueries.SpoolRecipe): Unit = {
    StreamingQueries.resetSpools()
    val first = ensure(recipe)
    assert(Set("built", "reused").contains(first), s"${recipe.name}: $first")
    assert(ensure(recipe) == "memoized", recipe.name)
    StreamingQueries.resetSpools()
    assert(ensure(recipe) == "reused", recipe.name)
  }

  test("ensure is built-or-reused on first access, memoized after; a " +
    "damaged data file fails the manifest check and triggers a " +
    "rebuild; the span metadata round-trips the sidecar") {
    StreamingQueries.resetSpools()
    val first = ensure(StreamingQueries.EventsRecipe)
    assert(Set("built", "reused").contains(first), first)
    assert(ensure(StreamingQueries.EventsRecipe) == "memoized")

    // a fresh "process" with an intact dir revalidates instead of
    // rebuilding
    StreamingQueries.resetSpools()
    assert(ensure(StreamingQueries.EventsRecipe) == "reused")

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
    assert(ensure(StreamingQueries.EventsRecipe) == "built")
    // and the rebuilt spool is whole again
    StreamingQueries.resetSpools()
    assert(ensure(StreamingQueries.EventsRecipe) == "reused")
  }

  test("q101's ordered spool is built once and reused: three doc_id " +
    "ranges stamped SpoolStampBase + 1000k in id order, span_ms from " +
    "the sidecar") {
    assertLifecycle(StreamingQueries.OrderedDocsRecipe)
    val sp = StreamingQueries.orderedDocsSpool(spark, sf)
    val (lo, hi) = docIdSpan()
    assert(sp.spanMs == hi - lo && sp.minId == lo)
    val files = stampedFiles(sp.dir)
    val base = StreamingQueries.SpoolStampBase
    assert(files.map(_._1) == Seq(base + 1000, base + 2000, base + 3000))
    assert(files.head._2 == lo && files.last._3 == hi)
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 < b._2, s"ranges out of order: $a then $b")
    }
  }

  test("q102's sentinel spool is built once and reused: round-robin data " +
    "files at SpoolStampBase, then the two sentinels at + 1000 and + 2000 " +
    "in order, span_ms from the sidecar") {
    assertLifecycle(StreamingQueries.DisorderedDocsRecipe)
    val sp = StreamingQueries.disorderedDocsSpool(spark, sf)
    val (lo, hi) = docIdSpan()
    assert(sp.spanMs == hi - lo && sp.minId == lo)
    val files = stampedFiles(sp.dir)
    val base = StreamingQueries.SpoolStampBase
    val (data, sentinels) = files.splitAt(files.size - 2)
    assert(data.size == 3 && data.forall(_._1 == base), data)
    assert(data.map(_._2).min == lo && data.map(_._3).max == hi)
    assert(sentinels == Seq((base + 1000, lo - 1, lo - 1),
      (base + 2000, lo - 2, lo - 2)))
  }

  test("every registered spool reports built or reused, then memoized") {
    StreamingQueries.resetSpools()
    StreamingQueries.spoolRecipes.foreach { r =>
      val first = ensure(r)
      assert(Set("built", "reused").contains(first), s"${r.name}: $first")
      assert(ensure(r) == "memoized", r.name)
    }
    assert(StreamingQueries.spoolRecipes.map(_.name).distinct.size ==
      StreamingQueries.spoolRecipes.size)
  }

  test("q101 run twice in one session returns identical rows from one " +
    "spool build") {
    def rows() = StreamingQueries.q101StreamingOnlineNeardup(spark, sf)
      .collect().toSeq.map(_.toSeq)
    val first = rows()
    assert(ensure(StreamingQueries.OrderedDocsRecipe) == "memoized")
    val second = rows()
    assert(first.nonEmpty && second == first)
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
