package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** The streaming admission tier reads the SAME on-disk signature store
  * as the batch path and must produce the SAME verdicts: a delta
  * arriving as micro-batches through [[StreamingAdmission]] admits /
  * rejects exactly like `q64IncrementalNeardup` over the identical
  * delta — the batch==stream pinning discipline
  * (StreamReadyTransformsSpec) applied to the q64 contract.
  */
class StreamingAdmissionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def verdictRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1).toSeq

  test("streaming admission against the on-disk store equals the batch " +
    "q64 verdicts on the identical delta (one batch, then split batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val isDelta = col("doc_id") % 10 === 0
    val deltaDocs = Tables.documents(spark, sf).filter(isDelta)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val expected = graft.core.CacheScope.withScope {
      verdictRows(graft.queries.DedupTextQueries
        .q64IncrementalNeardup(spark, sf))
    }
    assert(expected.nonEmpty && expected.exists(_._2) && expected.exists(!_._2),
      "both admit and reject branches must be exercised")

    try {
      graft.queries.DedupTextQueries
        .writeSignatureStore(spark, sf, "adm_store", !isDelta)
      val store = spark.table("adm_store")

      def run(batches: Seq[Seq[(Long, String)]]): Seq[(Long, Boolean, Long, Long)] = {
        val source = MemoryStream[(Long, String)]
        val got = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Boolean, Long, Long)]
        val ckpt = java.nio.file.Files
          .createTempDirectory("adm_ckpt").toString
        // ProcessingTime instead of AvailableNow: the AvailableNow
        // latch happens at start(), BEFORE addData below (the prod
        // default is right for "drain what exists", wrong for a test
        // that feeds data after starting)
        val q = StreamingAdmission.admissionQuery(
            source.toDS().toDF("doc_id", "text"), store, ckpt,
            org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) { (verdicts, _) =>
          got.synchronized { got ++= verdictRows(verdicts) }; ()
        }
        try batches.foreach { b =>
          source.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        got.sortBy(_._1).toSeq
      }

      // whole delta in ONE micro-batch: exactly q64
      assert(run(Seq(deltaDocs)) == expected)
      // delta split across batches: each batch is admitted against the
      // durable store (cross-batch collisions are tier one's job); on
      // this corpus the store side alone decides every verdict, so the
      // union still equals q64
      val (h1, h2) = deltaDocs.splitAt(deltaDocs.size / 2)
      assert(run(Seq(h1, h2)) == expected)
    } finally graft.queries.RunStore.dropWithLocation(spark, "adm_store")
  }

  test("fold-between-batches: a doc admitted on day 1 and folded into " +
    "the store rejects its re-submitted near-dup on day 2 " +
    "(admit → foldAdmitted → re-admit)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val novel = "grafted analytics engines fold admitted deltas back " +
      "into the durable signature store every night before the next run"
    try {
      graft.queries.DedupTextQueries
        .writeSignatureStore(spark, sf, "fold_store", lit(true))

      // one "day": a fresh admission stream over the CURRENT store
      // state (spark.table re-resolves, so folded files are visible)
      def day(batch: Seq[(Long, String)]): Seq[(Long, Boolean, Long, Long)] = {
        val source = MemoryStream[(Long, String)]
        val got = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Boolean, Long, Long)]
        val ckpt = java.nio.file.Files
          .createTempDirectory("fold_ckpt").toString
        val q = StreamingAdmission.admissionQuery(
            source.toDS().toDF("doc_id", "text"), spark.table("fold_store"),
            ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
          (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
        }
        try { source.addData(batch: _*); q.processAllAvailable() }
        finally q.stop()
        got.sortBy(_._1).toSeq
      }

      // day 1: the novel doc has no store collision — admitted
      assert(day(Seq((900001L, novel))) ==
        Seq((900001L, false, 0L, -1L)))
      // nightly fold: append the admitted doc's band keys (O(|delta|))
      graft.queries.DedupTextQueries.foldAdmitted(spark, "fold_store",
        Seq((900001L, novel)).toDF("doc_id", "text"))
      // day 2: the same text under a new id now collides with the
      // folded store row and is rejected, naming day 1's doc
      assert(day(Seq((900002L, novel))) ==
        Seq((900002L, true, 1L, 900001L)))
      // an unrelated novel doc is still admitted after the fold
      assert(day(Seq((900003L, "completely unrelated corpora graduate " +
        "through entirely different admission gates today"))) ==
        Seq((900003L, false, 0L, -1L)))
    } finally graft.queries.RunStore.dropWithLocation(spark, "fold_store")
  }

  test("per-batch store visibility INSIDE one stream (round-9 verdict " +
    "#3): a fold landing between two triggers of the SAME query is " +
    "visible to the next micro-batch — batch N's verdicts predate it, " +
    "batch N+1's reflect it — while the stream's lease is held") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val D = graft.queries.DedupTextQueries
    val novel = "mid stream folds must surface in the very next trigger " +
      "or nightly admissions would silently re-admit their duplicates"
    try {
      D.writeSignatureStore(spark, sf, "vis_store", lit(true))
      val source = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long, Long)]
      val q = StreamingAdmission.admissionQuery(
          source.toDS().toDF("doc_id", "text"), spark.table("vis_store"),
          java.nio.file.Files.createTempDirectory("vis_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
      }
      try {
        // batch N: the novel doc has no store collision — admitted
        source.addData((901001L, novel))
        q.processAllAvailable()
        assert(got.toSeq == Seq((901001L, false, 0L, -1L)))

        // the fold lands BETWEEN two triggers of the live stream —
        // exactly the seam the read lease exists to protect (the
        // fold's bucketed append is reader-safe; compaction is the
        // destructive op, and it defers its sweep under this lease)
        assert(graft.core.StoreLeases.holdersOf("vis_store")
          .contains(q.id.toString),
          "the live stream must hold its lease across the fold")
        D.foldAdmitted(spark, "vis_store",
          Seq((901001L, novel)).toDF("doc_id", "text"))

        // batch N+1: the captured store frame must re-read the CURRENT
        // file set — the re-submitted near-dup is rejected, naming the
        // doc folded a moment ago
        source.addData((901002L, novel))
        q.processAllAvailable()
        assert(got.toSeq == Seq((901001L, false, 0L, -1L),
          (901002L, true, 1L, 901001L)),
          s"the fold must be visible to the next micro-batch: $got")
      } finally q.stop()
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "vis_store")
    }
  }

  test("the store resolution is CACHED per catalog generation (round-10 " +
    "verdict #1): a steady stream resolves the store once across many " +
    "triggers, and exactly one re-resolution follows a fold — without " +
    "losing the fold's visibility to the very next batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val D = graft.queries.DedupTextQueries
    val novel = "cached store resolutions must invalidate on the epoch " +
      "bump a fold performs and never on an ordinary quiet trigger"
    try {
      D.writeSignatureStore(spark, sf, "epoch_store", lit(true))
      val resolutions = new java.util.concurrent.atomic.AtomicInteger(0)
      def countedStore(): org.apache.spark.sql.DataFrame = {
        resolutions.incrementAndGet()
        spark.table("epoch_store")
      }
      val source = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long, Long)]
      val q = StreamingAdmission.admissionQuery(
          source.toDS().toDF("doc_id", "text"), countedStore(),
          java.nio.file.Files.createTempDirectory("epoch_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
      }
      try {
        // three quiet triggers: one evaluation to collect the leased
        // tables at start + one to fill the cache on the first batch —
        // and NOT one per trigger (the round-10 behavior this replaces)
        (1 to 3).foreach { i =>
          source.addData((900100L + i, novel))
          q.processAllAvailable()
        }
        val quiet = resolutions.get()
        assert(quiet == 2,
          s"expected 2 resolutions (table collection + first batch), got $quiet")

        // a fold bumps the store's epoch: exactly ONE re-resolution on
        // the next trigger, and the folded row is already visible to it
        D.foldAdmitted(spark, "epoch_store",
          Seq((900101L, novel)).toDF("doc_id", "text"))
        source.addData((900200L, novel))
        q.processAllAvailable()
        assert(resolutions.get() == quiet + 1,
          s"a fold must trigger exactly one re-resolution, got " +
            s"${resolutions.get()} (was $quiet)")
        assert(got.toSeq.lastOption.contains((900200L, true, 1L, 900101L)),
          s"the fold must be visible to the first post-bump batch: $got")

        // quiet again: the re-resolved frame is itself cached
        source.addData((900300L, "an entirely different quiet trigger " +
          "document that shares no shingles with anything"))
        q.processAllAvailable()
        assert(resolutions.get() == quiet + 1,
          "a quiet trigger after the re-resolution must hit the cache")
      } finally q.stop()
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "epoch_store")
    }
  }

  test("compaction after repeated folds: contents and admission " +
    "verdicts unchanged, file count back to the bucket count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def novel(i: Int) = s"wholly novel admitted document number $i " +
      s"with enough distinct words $i to shingle cleanly"
    try {
      graft.queries.DedupTextQueries
        .writeSignatureStore(spark, sf, "cmp_store", lit(true))
      val base = spark.table("cmp_store").inputFiles.length
      (1 to 3).foreach { i =>
        graft.queries.DedupTextQueries.foldAdmitted(spark, "cmp_store",
          Seq((900000L + i, novel(i))).toDF("doc_id", "text"))
      }
      val folded = spark.table("cmp_store")
      assert(folded.inputFiles.length > base, "folds must append files")
      val before = folded.orderBy("doc_id", "band", "bkey").collect()

      graft.queries.DedupTextQueries.compactStore(spark, "cmp_store")

      val after = spark.table("cmp_store")
      assert(after.inputFiles.length <= base,
        s"${after.inputFiles.length} files after compaction (base $base)")
      assert(after.orderBy("doc_id", "band", "bkey").collect().toSeq ==
        before.toSeq, "compaction must preserve contents exactly")
      // the compacted store still rejects a re-submitted folded doc
      val verdicts = graft.core.CacheScope.withScope {
        verdictRows(StreamingAdmission.admitBatch(spark.table("cmp_store"))(
          Seq((900009L, novel(2))).toDF("doc_id", "text")))
      }
      assert(verdicts == Seq((900009L, true, 1L, 900002L)), verdicts)
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "cmp_store")
      spark.sql("DROP TABLE IF EXISTS cmp_store_compacting")
    }
  }

  test("compaction proceeds SAFELY under an active streaming lease " +
    "(round-9 verdict #1: atomic swap instead of refusal): the " +
    "reader's generation is retained while leased — its verdicts keep " +
    "flowing — and a later compaction sweeps it once the stream stops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val D = graft.queries.DedupTextQueries
    def loc(): org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("lease_store")).location)
    // this spec exercises the LEASE gate in isolation — pin the
    // retention window to 0 so sweeps happen the moment leases clear
    val savedGrace = graft.queries.RunStore.sweepGraceMs
    graft.queries.RunStore.sweepGraceMs = 0
    try {
      D.writeSignatureStore(spark, sf, "lease_store", lit(true))
      val fs = loc().getFileSystem(spark.sparkContext.hadoopConfiguration)
      val oldLoc = loc()
      val source = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long, Long)]
      val q = StreamingAdmission.admissionQuery(
          source.toDS().toDF("doc_id", "text"), spark.table("lease_store"),
          java.nio.file.Files.createTempDirectory("lease_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
      }
      try {
        source.addData((900001L, "a live reader holds its lease today"))
        q.processAllAvailable()
        val before = got.toSeq

        // live lease: compaction commits its atomic swap but RETAINS
        // the generation the pinned reader scans
        D.compactStore(spark, "lease_store")
        assert(loc().toString != oldLoc.toString,
          "the catalog must re-point at the compacted generation")
        assert(fs.exists(oldLoc),
          "the leased reader's files must be retained, not deleted")

        // the stream keeps producing identical verdicts mid-swap
        source.addData((900001L, "a live reader holds its lease today"))
        q.processAllAvailable()
        assert(got.toSeq == before ++ before,
          s"verdicts must be unchanged across the swap: $got")

        // and a POST-swap fold (which lands on the new generation —
        // the current catalog location) is visible to the straddling
        // stream's next batch: per-trigger re-resolution, not a plan
        // pinned at the pre-swap location for the stream's lifetime
        val novel = "post swap folds must reach the straddling " +
          "stream's very next micro batch too"
        graft.queries.DedupTextQueries.foldAdmitted(spark, "lease_store",
          Seq((900077L, novel)).toDF("doc_id", "text"))
        source.addData((900078L, novel))
        q.processAllAvailable()
        assert(got.toSeq.lastOption
          .contains((900078L, true, 1L, 900077L)),
          s"the post-swap fold must be visible across the swap: $got")
      } finally q.stop()
      // terminated stream: the lease no longer counts against the live
      // active set even before the async listener fires — the next
      // compaction sweeps the retained generation
      D.compactStore(spark, "lease_store")
      assert(!fs.exists(oldLoc),
        "the retained generation must be swept once the lease is gone")
      assert(spark.table("lease_store").count() > 0)
    } finally {
      graft.queries.RunStore.sweepGraceMs = savedGrace
      graft.queries.RunStore.dropWithLocation(spark, "lease_store")
      spark.sql("DROP TABLE IF EXISTS lease_store_compacting")
    }
  }

  test("a SIBLING session's admission stream defers the sweep too: " +
    "lease liveness rides the streaming query's own handle, so a " +
    "compaction run from a different session of the same JVM still " +
    "retains the generation that stream scans") {
    val D = graft.queries.DedupTextQueries
    def loc(): org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("sib_store")).location)
    val savedGrace = graft.queries.RunStore.sweepGraceMs
    graft.queries.RunStore.sweepGraceMs = 0
    try {
      D.writeSignatureStore(spark, sf,
        "sib_store", org.apache.spark.sql.functions.lit(true))
      val fs = loc().getFileSystem(spark.sparkContext.hadoopConfiguration)
      val oldLoc = loc()
      val sibling = spark.newSession()
      import sibling.implicits._
      implicit val sqlCtx = sibling.sqlContext
      val source = MemoryStream[(Long, String)]
      val q = StreamingAdmission.admissionQuery(
          source.toDS().toDF("doc_id", "text"), sibling.table("sib_store"),
          java.nio.file.Files.createTempDirectory("sib_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (verdicts, _) => verdicts.count(); ()
      }
      try {
        source.addData((900001L, "a sibling session reader holds a lease"))
        q.processAllAvailable()
        // the sibling's query is NOT in the main session's active set —
        // a session-scoped liveness check would read its lease as dead
        assert(!spark.streams.active.exists(_.id == q.id))
        D.compactStore(spark, "sib_store")
        assert(fs.exists(oldLoc),
          "the sibling stream's generation must be retained")
      } finally q.stop()
      D.compactStore(spark, "sib_store")
      assert(!fs.exists(oldLoc),
        "the retained generation must be swept once the sibling stops")
    } finally {
      graft.queries.RunStore.sweepGraceMs = savedGrace
      graft.queries.RunStore.dropWithLocation(spark, "sib_store")
      spark.sql("DROP TABLE IF EXISTS sib_store_compacting")
    }
  }

  test("media assets run the FULL admission lifecycle on the same " +
    "tier: streamed micro-batch verdicts (admitMediaBatch), nightly " +
    "foldAdmittedVia(mediaBandFrame), compaction — a truncated copy " +
    "of a folded asset is rejected the next day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val q = graft.queries.MultimodalQueries
    val base = (0 until 60).map(i => s"frame$i payload").mkString(" ")
    val novel = (0 until 60).map(i => s"novel words $i").mkString(" ")
    def assets(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "mime", "text")
        .selectExpr("doc_id", "mime", "encode(text, 'UTF-8') AS payload")

    // one "day": a fresh media admission stream over the current store
    def day(batches: Seq[(Long, String, String)]*): Seq[(Long, Boolean, Long, Long)] = {
      val source = MemoryStream[(Long, String, String)]
      val docs = source.toDS().toDF("doc_id", "mime", "text")
        .selectExpr("doc_id", "mime", "encode(text, 'UTF-8') AS payload")
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean, Long, Long)]
      val s = StreamingAdmission.admissionQuery(docs,
          spark.table("media_store"),
          java.nio.file.Files.createTempDirectory("media_adm_ckpt").toString,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          StreamingAdmission.admitMediaBatch) {
        (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
      }
      try batches.foreach { b =>
        source.addData(b: _*); s.processAllAvailable()
      } finally s.stop()
      got.sortBy(_._1).toSeq
    }

    try {
      graft.core.Tables.writeBucketed(
        q.mediaBandFrame(assets((0L, "image/png", base))),
        "media_store", 4, "band", "bkey")
      // day 1, two micro-batches
      assert(day(
        Seq((10L, "image/png", base.dropRight(40)), // truncated copy of 0
          (11L, "audio/wav", base)),                // byte-twin, other mime
        Seq((12L, "image/png", novel))) ==          // novel asset
        Seq((10L, true, 1L, 0L), (11L, false, 0L, -1L),
          (12L, false, 0L, -1L)))
      // nightly: fold the admitted asset with the MEDIA derivation,
      // then compact the fold files away
      graft.queries.DedupTextQueries.foldAdmittedVia(q.mediaBandFrame)(
        spark, "media_store", assets((12L, "image/png", novel)))
      graft.queries.DedupTextQueries.compactStore(spark, "media_store")
      assert(spark.table("media_store").inputFiles.length == 4)
      // day 2: a truncated copy of yesterday's admission is rejected
      assert(day(Seq((13L, "image/png", novel.dropRight(40)))) ==
        Seq((13L, true, 1L, 12L)))
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "media_store")
      spark.sql("DROP TABLE IF EXISTS media_store_compacting")
    }
  }

  test("compaction is ATOMIC at every seam: killing it after any step " +
    "leaves the store registered and readable with unchanged contents " +
    "and verdicts, and the next compaction absorbs the debris " +
    "(round-9 verdict #1)") {
    import spark.implicits._
    val D = graft.queries.DedupTextQueries
    val novel = "atomically swapped compaction generations keep every " +
      "reader on a complete file set at all times"
    final class Killed extends RuntimeException("injected crash")
    // debris absorption is asserted immediately — pin the retention
    // window to 0 (the grace behavior has its own spec below)
    val savedGrace = graft.queries.RunStore.sweepGraceMs
    graft.queries.RunStore.sweepGraceMs = 0
    try {
      D.writeSignatureStore(spark, sf, "atomic_store", lit(true))
      D.foldAdmitted(spark, "atomic_store",
        Seq((900401L, novel)).toDF("doc_id", "text"))
      val before = spark.table("atomic_store")
        .orderBy("doc_id", "band", "bkey").collect().toSeq
      def verdict() = graft.core.CacheScope.withScope {
        verdictRows(StreamingAdmission.admitBatch(spark.table("atomic_store"))(
          Seq((900409L, novel)).toDF("doc_id", "text")))
      }
      val expected = Seq((900409L, true, 1L, 900401L))
      assert(verdict() == expected)

      Seq("swept", "written", "sidecar_copied", "committed",
          "scaffold_dropped").foreach { stop =>
        intercept[Killed] {
          D.compactStoreSeams(spark, "atomic_store") { name =>
            if (name == stop) throw new Killed
          }
        }
        assert(spark.catalog.tableExists("atomic_store"),
          s"store must stay registered after a crash at '$stop'")
        assert(spark.table("atomic_store")
          .orderBy("doc_id", "band", "bkey").collect().toSeq == before,
          s"contents must be exact after a crash at '$stop'")
        assert(verdict() == expected,
          s"admission semantics must survive a crash at '$stop'")
      }

      // a clean compaction after all five crashes absorbs the debris:
      // contents exact, file count back to one per bucket, and no
      // stale generation or default dir remains besides the current
      D.compactStore(spark, "atomic_store")
      assert(spark.table("atomic_store")
        .orderBy("doc_id", "band", "bkey").collect().toSeq == before)
      assert(spark.table("atomic_store").inputFiles.length == 8)
      assert(verdict() == expected)
      val cur = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("atomic_store"))
          .location)
      assert(graft.queries.RunStore
        .staleStoreDirs(spark, "atomic_store", cur).isEmpty,
        "every non-current generation must be swept")
    } finally {
      graft.queries.RunStore.sweepGraceMs = savedGrace
      graft.queries.RunStore.dropWithLocation(spark, "atomic_store")
      spark.sql("DROP TABLE IF EXISTS atomic_store_compacting")
    }
  }

  test("generation sweeps honor the RETENTION WINDOW (round-10 verdict " +
    "#2): with zero live leases, a freshly demoted generation survives " +
    "the compaction that demoted it AND the next one; once aged past " +
    "the window it is swept — cross-process readers get a grace period " +
    "the in-JVM lease registry cannot see") {
    import spark.implicits._
    val D = graft.queries.DedupTextQueries
    def loc(): org.apache.hadoop.fs.Path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("grace_store")).location)
    val savedGrace = graft.queries.RunStore.sweepGraceMs
    graft.queries.RunStore.sweepGraceMs = 60L * 1000
    try {
      D.writeSignatureStore(spark, sf, "grace_store", lit(true))
      val fs = loc().getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(graft.core.StoreLeases.liveHoldersOf("grace_store").isEmpty)

      // demote generation 0: no leases anywhere, yet the dir survives —
      // a cross-process reader that resolved pre-swap may still scan it
      val gen0 = loc()
      D.compactStore(spark, "grace_store")
      val gen1 = loc()
      assert(gen1.toString != gen0.toString)
      assert(fs.exists(gen0),
        "a freshly demoted generation must survive its own compaction")

      // still young at the NEXT compaction's sweep: retained again
      D.compactStore(spark, "grace_store")
      assert(fs.exists(gen0),
        "a generation younger than the window must survive later sweeps")

      // age both demoted generations past the window: the next
      // compaction's sweep takes them
      val past = System.currentTimeMillis() -
        graft.queries.RunStore.sweepGraceMs - 60L * 1000
      Seq(gen0, gen1).foreach(p => fs.setTimes(p, past, -1))
      D.compactStore(spark, "grace_store")
      assert(!fs.exists(gen0) && !fs.exists(gen1),
        "generations aged past the window must be swept")
      // and the store is intact throughout
      assert(spark.table("grace_store").count() > 0)
    } finally {
      graft.queries.RunStore.sweepGraceMs = savedGrace
      graft.queries.RunStore.dropWithLocation(spark, "grace_store")
      spark.sql("DROP TABLE IF EXISTS grace_store_compacting")
    }
  }

  test("fold and compaction follow the store's ACTUAL bucket spec from " +
    "the catalog — a non-default store is never silently rebucketed") {
    import spark.implicits._
    try {
      graft.queries.DedupTextQueries
        .writeSignatureStore(spark, sf, "b4_store", lit(true), numBuckets = 4)
      def buckets(): String = spark.sql("DESCRIBE EXTENDED b4_store")
        .collect().find(_.getString(0) == "Num Buckets")
        .map(_.getString(1).trim).getOrElse("missing")
      assert(buckets() == "4")
      // fold reads 4 from the catalog (an assumed default of 8 would
      // throw a bucket-spec mismatch on this append)
      graft.queries.DedupTextQueries.foldAdmitted(spark, "b4_store",
        Seq((900100L, "a novel document folded into the four bucket store"))
          .toDF("doc_id", "text"))
      val before = spark.table("b4_store")
        .orderBy("doc_id", "band", "bkey").collect()
      graft.queries.DedupTextQueries.compactStore(spark, "b4_store")
      assert(buckets() == "4", "compaction must preserve the bucket spec")
      assert(spark.table("b4_store").inputFiles.length == 4)
      assert(spark.table("b4_store")
        .orderBy("doc_id", "band", "bkey").collect().toSeq == before.toSeq)
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "b4_store")
      spark.sql("DROP TABLE IF EXISTS b4_store_compacting")
    }
  }

  test("embedding admission (the semantic tier): the streaming batch " +
    "form equals q95 on the identical delta, and a band collision " +
    "alone is NOT a rejection — only a cosine-confirmed near-dup is") {
    import spark.implicits._
    val S = graft.queries.SimilarityQueries
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
        .sortBy(_._1).toSeq

    // batch ≡ q95: wide store = the non-delta slice of the band store,
    // delta = the corpus delta slice signing itself inline
    val sf01 = graft.TestSpark.Sf0001
    val sig = S.EmbBandStore.table(spark, sf01)
    val isDelta = col("vec_id") % 10 === 0
    val expected = graft.core.CacheScope.withScope {
      rows(S.queries("q95_embedding_admission")(spark, sf01))
    }
    val got = graft.core.CacheScope.withScope {
      rows(StreamingAdmission.admitEmbeddingBatch(sig.filter(!isDelta))(
        graft.core.Tables.embeddings(spark, sf01).filter(isDelta)
          .select(col("vec_id").as("doc_id"), col("embedding"))))
    }
    assert(got == expected)
    assert(expected.exists(_._2) && expected.exists(!_._2),
      "both admit and reject branches must be exercised")

    // semantic scenario: an exact duplicate vector is rejected naming
    // its store twin; an orthogonal vector is admitted even if some
    // 6-bit band happens to collide (n_candidates may be > 0, but
    // nothing confirms at the cosine bar)
    val dup = Array.fill(64)(0.5f)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    // derive the store's real band keys through the public derivation
    val storeWide = Seq((100L, dup)).toDF("doc_id", "embedding")
    val keys = S.embBandFrame(storeWide)
      .groupBy("doc_id").pivot("band").agg(first("bkey"))
    val wide = storeWide.join(keys, Seq("doc_id"))
      .toDF("vec_id", "embedding", "bkey0", "bkey1", "bkey2", "bkey3",
        "bkey4", "bkey5")
    val verdicts = graft.core.CacheScope.withScope {
      rows(StreamingAdmission.admitEmbeddingBatch(wide)(
        Seq((200L, dup), (201L, ortho)).toDF("doc_id", "embedding")))
    }
    val byId = verdicts.map(v => v._1 -> v).toMap
    assert(byId(200L)._2 && byId(200L)._5 == 100L,
      s"exact duplicate must be rejected naming the twin: $verdicts")
    assert(!byId(201L)._2,
      s"orthogonal vector must be admitted (cos 0 < bar): $verdicts")
  }

  test("embedding vectors run the FULL admission lifecycle: wide-store " +
    "fold (foldAdmittedVia(embWideRows)) + bucket-spec-generic " +
    "compaction — a re-submitted near-dup of a folded vector is " +
    "rejected the next day, and pre-fold store rows survive") {
    import spark.implicits._
    val S = graft.queries.SimilarityQueries
    val D = graft.queries.DedupTextQueries
    val dup = Array.fill(64)(0.25f)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) 0.25f else -0.25f)
    def admit(batch: Seq[(Long, Array[Float])]) =
      graft.core.CacheScope.withScope {
        StreamingAdmission.admitEmbeddingBatch(spark.table("emb_fold_store"))(
            batch.toDF("doc_id", "embedding"))
          .collect().map(r => (r.getLong(0), r.getBoolean(1),
            if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
      }
    try {
      // ingest: the admitted corpus is one vector, written in the wide
      // vec_id-bucketed layout
      graft.core.Tables.writeBucketed(
        S.embWideRows(Seq((500L, dup)).toDF("doc_id", "embedding")),
        "emb_fold_store", 4, "vec_id")
      // day 1: an orthogonal vector has no confirmed collider — admitted
      assert(admit(Seq((600L, ortho))) == Seq((600L, false, -1L)))
      // nightly: fold the admitted vector's wide row, then compact —
      // both through the SAME lifecycle path as the band stores, the
      // bucket spec read from the catalog (vec_id, 4 buckets)
      D.foldAdmittedVia(S.embWideRows)(spark, "emb_fold_store",
        Seq((600L, ortho)).toDF("doc_id", "embedding"))
      D.compactStore(spark, "emb_fold_store")
      assert(spark.table("emb_fold_store").count() == 2)
      // day 2: the same vector under a new id collides in every band
      // with the FOLDED row and confirms at cosine 1 — rejected naming
      // day 1's vector; a near-dup of the ORIGINAL store row still
      // rejects too (compaction preserved pre-fold contents)
      assert(admit(Seq((601L, ortho))) == Seq((601L, true, 600L)))
      assert(admit(Seq((602L, dup))) == Seq((602L, true, 500L)))
    } finally {
      graft.queries.RunStore.dropWithLocation(spark, "emb_fold_store")
      spark.sql("DROP TABLE IF EXISTS emb_fold_store_compacting")
    }
  }

  test("embedding admission composes with the streaming plumbing: " +
    "vectors arriving as micro-batches through admissionQuery get the " +
    "same two-stage verdicts as the batch engine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val S = graft.queries.SimilarityQueries
    val dup = Array.fill(64)(0.25f)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) 0.25f else -0.25f)
    val storeWide = Seq((500L, dup)).toDF("doc_id", "embedding")
    val keys = S.embBandFrame(storeWide)
      .groupBy("doc_id").pivot("band").agg(first("bkey"))
    val wide = storeWide.join(keys, Seq("doc_id"))
      .toDF("vec_id", "embedding", "bkey0", "bkey1", "bkey2", "bkey3",
        "bkey4", "bkey5")

    val source = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Long)]
    val q = StreamingAdmission.admissionQuery(
        source.toDS().toDF("doc_id", "embedding"), wide,
        java.nio.file.Files.createTempDirectory("emb_adm_ckpt").toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        StreamingAdmission.admitEmbeddingBatch) { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getBoolean(1),
            if (r.isNullAt(4)) -1L else r.getLong(4)))
      }; ()
    }
    try {
      source.addData((600L, dup), (601L, ortho))
      q.processAllAvailable()
    } finally q.stop()
    val byId = got.sortBy(_._1).map(v => v._1 -> v).toMap
    assert(byId(600L)._2 && byId(600L)._3 == 500L, got.mkString(", "))
    assert(!byId(601L)._2, got.mkString(", "))
  }

  test("the two custom seams compose: the geonet micro-batch source " +
    "feeds streaming admission against a band store (fixture transport, " +
    "verdicts ≡ the batch engine on the same delta)") {
    import graft.queries.QuakeQueries.FixtureJson
    // "yesterday": quake 1's locality text was admitted as doc 42 and
    // folded into the store
    import spark.implicits._
    val storeBands = Seq((42L, "15 km east of Seddon"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(graft.functions.MinHashBandKeys.bandKeys(col("text")))
          .as(Seq("band", "bkey")))
    def asDocs(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(col("publicID")).as("doc_id"),
        col("locality").as("text"))

    // "today": one AvailableNow drain of the geonet source → admission
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Long, Long)]
    val q = StreamingAdmission.admissionQuery(
        asDocs(spark.readStream.format("graft.sources.GeoNetTableProvider")
          .option("body", FixtureJson).load()),
        storeBands,
        java.nio.file.Files.createTempDirectory("geo_adm_ckpt").toString) {
      (verdicts, _) => got.synchronized { got ++= verdictRows(verdicts) }; ()
    }
    q.awaitTermination()

    // batch ≡ stream: the same delta through the batch engine
    val expected = graft.core.CacheScope.withScope {
      verdictRows(StreamingAdmission.admitBatch(storeBands)(asDocs(
        spark.read.format("geonet").option("body", FixtureJson).load())))
    }
    assert(got.sortBy(_._1).toSeq == expected)
    // quake 1's text is byte-identical to the folded doc: rejected,
    // naming it; every other fixture quake is novel and admitted
    val dup = got.find(_._2)
    assert(dup.map(d => (d._3, d._4)) == Some((1L, 42L)), got.mkString(", "))
    assert(got.count(!_._2) == got.size - 1)
  }

  test("the skew cap is sized from the STORE alone: verdicts at a cap-" +
    "boundary bucket are invariant to micro-batch composition " +
    "(round-6 advisory)") {
    import spark.implicits._
    val cap = graft.operators.BucketPairs.DefaultCap
    // one band bucket populated by EXACTLY cap−1 store docs. Under the
    // old union-sized bsz, admitting two delta docs in ONE batch tipped
    // the bucket to cap+1 and silently dropped it (verdict: admit),
    // while the same docs in separate batches read cap and matched
    // (verdict: reject) — the verdict depended on batch composition.
    def bands(ids: Seq[Long], delta: Boolean) =
      ids.map(i => (i, 0, "K", delta))
        .toDF("doc_id", "band", "bkey", "is_delta")
    val store = bands(101L until (100L + cap.toLong), delta = false)
    val d1 = bands(Seq(1L), delta = true)
    val d2 = bands(Seq(2L), delta = true)

    def verdicts(all: org.apache.spark.sql.DataFrame, docs: Seq[Long]) =
      verdictRows(graft.queries.DedupTextQueries
        .incrementalNeardupFlagged(all, docs.toDF("doc_id")))

    val expected = Seq(
      (1L, true, (cap - 1).toLong, 101L),
      (2L, true, (cap - 1).toLong, 101L))
    assert(verdicts(store.union(d1).union(d2), Seq(1L, 2L)) == expected)
    assert((verdicts(store.union(d1), Seq(1L)) ++
      verdicts(store.union(d2), Seq(2L))).sortBy(_._1) == expected)
  }
}
