package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.{DedupTextQueries, MultimodalQueries, RunStore,
  SimilarityQueries, StreamingQueries}

/** The driver-visible streaming admission queries (q97/q98/q99) really
  * run the Structured Streaming engine over MULTIPLE micro-batches and
  * still union to exactly their batch twins' verdicts — the
  * batch-invariance contract as an executable equality, not just the
  * hash gate's say-so.
  */
class StreamingQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  /** Committed micro-batch count from the query's checkpoint log. */
  private def commits(tag: String): Int = {
    val dir = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      RunStore.tableName(s"graft_stream_$tag", sf) + "_ckpt/commits")
    Option(dir.list()).map(_.count(_.forall(_.isDigit))).getOrElse(0)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q97 streaming text admission == batch q64 verdicts, " +
    "and the run spanned multiple micro-batches") {
    val got = rows(StreamingQueries.q97StreamingTextAdmission(spark, sf))
    val want = rows(DedupTextQueries.q64IncrementalNeardup(spark, sf))
    assert(got == want)
    assert(commits("text") >= 3,
      "delta was spooled as 3 files with maxFilesPerTrigger=1 — fewer " +
        "than 3 commits means the stream collapsed to one batch and the " +
        "multi-batch union claim is untested")
  }

  test("q98 streaming media admission == batch q91 verdicts across " +
    "micro-batches") {
    val got = rows(StreamingQueries.q98StreamingMediaAdmission(spark, sf))
    val want = rows(MultimodalQueries.q91MediaAdmission(spark, sf))
    assert(got == want)
    assert(commits("media") >= 3)
  }

  test("q99 streaming embedding admission == batch q95 two-stage " +
    "verdicts across micro-batches") {
    val got = rows(StreamingQueries.q99StreamingEmbeddingAdmission(spark, sf))
    val want = rows(SimilarityQueries.q95EmbeddingAdmission(spark, sf))
    assert(got == want)
    assert(commits("emb") >= 3)
  }

  /** Batch min-owner-per-bucket semantics — the target both near-dup
    * streaming queries must realize (q101 via an ordered spool, q102
    * via watermark finality over a disordered one).
    */
  private def minOwnerWant: Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions._
    val bands = DedupTextQueries.textBandFrame(
      graft.core.Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val own = bands.groupBy("band", "bkey")
      .agg(min(col("doc_id")).as("dup_of"))
    rows(bands.join(own, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("band"), col("dup_of"))
      .orderBy(col("doc_id"), col("band")))
  }

  test("q101 streaming online near-dup across >= 3 micro-batches == " +
    "the min-owner-per-bucket batch semantics (tier one, driver-visible)") {
    val got = rows(StreamingQueries.q101StreamingOnlineNeardup(spark, sf))
    assert(got == minOwnerWant)
    assert(commits("online") >= 3)
  }

  test("q102 streaming near-dup over a maximally DISORDERED spool == " +
    "the same min-owner batch semantics — ownership by event time, " +
    "arrival permutation irrelevant (>= 5 micro-batches: 3 round-robin " +
    "files + 2 flush sentinels)") {
    val got = rows(StreamingQueries.q102StreamingNeardupDisordered(spark, sf))
    assert(got.nonEmpty && got == minOwnerWant)
    assert(commits("disorder") >= 5)
  }

  test("q100 streaming pattern top-k over a maximally disordered spool " +
    "== batch q96, bit-for-bit, across >= 5 micro-batches (3 shuffled " +
    "event files + 2 flush sentinels)") {
    val got = rows(StreamingQueries.q100StreamingPatternTopk(spark, sf))
    val want = rows(graft.queries.EventQueries.queries("q96_pattern_topk")(spark, sf))
    assert(got.nonEmpty && got == want)
    assert(commits("pattern") >= 5)
  }

  test("q103 streams the FULL store lifecycle: fold + atomic " +
    "compaction land between two checkpointed triggers of one live " +
    "admission stream, and day-2 verdicts equal the batch q92 " +
    "lifecycle exactly") {
    val got = rows(StreamingQueries.q103StreamingStoreLifecycle(spark, sf))
    val want = rows(DedupTextQueries.q92StoreLifecycle(spark, sf)
      .orderBy("doc_id"))
    assert(got.nonEmpty && got == want)
    val ckpt = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      graft.queries.RunStore.tableName("graft_stream_lc", sf) +
        "_ckpt/commits")
    assert(Option(ckpt.list()).map(_.count(_.forall(_.isDigit)))
      .getOrElse(0) >= 2,
      "the lifecycle must span two real triggers (day 1, day 2)")
  }

  test("batchId-keyed sinks are idempotent under epoch replay: " +
    "deleting the last commit and restarting from the checkpoint " +
    "re-runs that batch onto the SAME path — final sink contents " +
    "unchanged (round-9 verdict #4)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("replay").toString
    val (deltaPath, ckpt, out) = (s"$tmp/delta", s"$tmp/ckpt", s"$tmp/out")
    val isDelta = col("doc_id") % 10 === 0
    graft.core.Tables.documents(spark, sf).filter(isDelta)
      .select(col("doc_id"), col("text"))
      .repartition(3).write.parquet(deltaPath)
    val store = graft.queries.BandStore.bands(spark, sf).filter(!isDelta)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(deltaPath).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(deltaPath)
      StreamingAdmission.admissionQuery(stream, store, ckpt,
          org.apache.spark.sql.streaming.Trigger.AvailableNow()) {
        (verdicts, batchId) =>
          StreamingQueries.writeBatch(verdicts, out, batchId)
      }.awaitTermination()
    }

    runOnce()
    def sink() = rows(StreamingQueries.readSink(spark, out)
      .orderBy("doc_id"))
    val first = sink()
    assert(first.nonEmpty)

    // simulate a crash after the batch ran but before its commit was
    // recorded: drop the newest commit marker, restart from checkpoint
    val commitsDir = new java.io.File(ckpt, "commits")
    val latest = commitsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val replayedId = latest.getName.toLong
    assert(latest.delete())
    // the local checksum FS keeps a .crc sidecar per commit file; a
    // stale one makes the re-commit look like a concurrent writer
    new java.io.File(commitsDir, s".$replayedId.crc").delete()
    runOnce()

    assert(sink() == first,
      "the replayed epoch must overwrite its own batch dir, not append")
    assert(new java.io.File(commitsDir, replayedId.toString).exists(),
      "the replayed batch must re-commit under the SAME id")
  }

  test("a streaming query re-runs from emptied run dirs: a marker " +
    "planted in each of its run dirs is gone and the rows repeat") {
    val warehouse =
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(
      ("pii", Seq("_ckpt", "_out"),
        StreamingQueries.q114StreamingPiiScrub),
      ("funnel", Seq("_ckpt", "_state"), StreamingQueries.q144StreamingFunnel))
      .foreach { case (tag, suffixes, query) =>
        val first = rows(query(spark, sf))
        // `_`-prefixed, so a reader that lists the dir skips it: without
        // the reset the re-run fails on the stale dirs, not on the marker
        val markers = suffixes.map { suffix =>
          val dir = new java.io.File(warehouse,
            RunStore.tableName(s"graft_stream_$tag", sf) + suffix)
          assert(dir.isDirectory, s"$dir is missing after the first run")
          val marker = new java.io.File(dir, "_stale_marker")
          assert(marker.createNewFile())
          marker
        }
        val second = rows(query(spark, sf))
        markers.foreach(m => assert(!m.exists(), s"$m survived the re-run"))
        assert(second.nonEmpty && second == first)
      }
  }

  test("q114 streaming PII scrub == batch q112 bit-for-bit across " +
    ">= 3 checkpointed micro-batches (scrub-on-ingest == " +
    "scrub-on-release, driver-visible)") {
    val got = rows(StreamingQueries.q114StreamingPiiScrub(spark, sf))
    val want = rows(DedupTextQueries.q112PiiRedact(spark, sf))
    assert(got.nonEmpty && got == want)
    assert(commits("pii") >= 3,
      "the fixture was spooled as 3 files with maxFilesPerTrigger=1 — " +
        "fewer than 3 commits means the stream collapsed to one batch")
  }

  test("q117 streaming media decode == batch q116 bit-for-bit across " +
    ">= 3 checkpointed micro-batches (decode-on-ingest == " +
    "decode-on-release through the real codecs)") {
    val got = rows(StreamingQueries.q117StreamingMediaDecode(spark, sf))
    val want = rows(MultimodalQueries.q116MediaMetaDispatch(spark, sf))
    assert(got.nonEmpty && got == want)
    assert(commits("dec") >= 3,
      "the fixture was spooled as 3 files with maxFilesPerTrigger=1 — " +
        "fewer than 3 commits means the stream collapsed to one batch")
  }

  test("q123 streaming ANN serve == batch q122 bit-for-bit across >= 3 " +
    "checkpointed micro-batches (serve-on-arrival == serve-in-batch " +
    "against the stored compressed index)") {
    val got = rows(StreamingQueries.q123StreamingAnnServe(spark, sf))
    val want = rows(SimilarityQueries.q122BatchAnnServe(spark, sf))
    assert(got.nonEmpty && got == want)
    assert(commits("ann") >= 3,
      "the query set was spooled as 3 files with maxFilesPerTrigger=1 — " +
        "fewer than 3 commits means the stream collapsed to one batch")
  }

  test("q109 streaming cluster maintenance == from-scratch components " +
    "(q105) across >= 3 checkpointed micro-batches, and a replayed " +
    "epoch re-derives identical label state (batchId-addressed reads " +
    "make the merge chain exactly-once by construction)") {
    val got = graft.core.CacheScope.withScope {
      rows(StreamingQueries.queries("q109_streaming_cluster_maintenance")(
        spark, sf))
    }
    val batch = graft.core.CacheScope.withScope {
      rows(DedupTextQueries.q105IncrementalClusters(spark, sf))
    }
    assert(got == batch,
      "the streamed maintenance chain must equal the batch maintenance")
    assert(commits("clm") >= 3,
      "the run must genuinely span multiple micro-batches")

    // replay the LAST epoch: drop its commit marker and restart from
    // the checkpoint — the replayed batch re-reads its predecessor's
    // label dir (never its own partial output) and overwrites its own,
    // so the final labels are unchanged
    val ckpt = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      RunStore.tableName("graft_stream_clm", sf) + "_ckpt")
    val commitsDir = new java.io.File(ckpt, "commits")
    val latest = commitsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    val replayedId = latest.getName.toLong
    assert(latest.delete())
    new java.io.File(commitsDir, s".$replayedId.crc").delete()

    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val labelsRoot = new org.apache.hadoop.fs.Path(warehouse,
      RunStore.tableName("graft_stream_clm", sf) + "_labels")
    val deltaPath = StreamingQueries.ClusterDeltaRecipe(spark, sf).dir
    val stream = spark.readStream
      .schema(spark.read.parquet(deltaPath).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(deltaPath)
    // the replayed epoch runs q109's EXACT per-batch body (shared
    // helper — round-11 advice: an inline copy here would silently
    // diverge from the production query)
    val edgesPath = new org.apache.hadoop.fs.Path(warehouse,
      RunStore.tableName("graft_stream_clm", sf) + "_edges").toString
    stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(
        StreamingQueries.clusterMaintenanceBatch(
          spark, edgesPath, labelsRoot.toString) _)
      .start().awaitTermination()

    val finalLabels = spark.read.parquet(s"$labelsRoot/batch_$replayedId")
      .orderBy("doc_id")
    val expected = graft.core.CacheScope.withScope {
      rows(DedupTextQueries.q105IncrementalClusters(spark, sf))
    }.map(r => (r(0), r(1))).toMap
    val replayed = rows(finalLabels).map(r => (r(0), r(1))).toMap
    // every edge-touched doc's label must match the batch answer
    assert(replayed.forall { case (doc, c) => expected(doc) == c },
      "a replayed epoch must re-derive identical label state")
  }
}
