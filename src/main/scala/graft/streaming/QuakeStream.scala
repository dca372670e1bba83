package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.quakes.QuakeModel.QuakeConfig
import graft.quakes.QuakePipeline
import graft.sources.{GeoNetHttp, GeoNetSource, HttpTransport}

/** Structured-Streaming wrapper for the quake pipeline (SURVEY.md §2.8).
  *
  * The reference runs as a platform-scheduled batch (task.ts:143); the
  * streaming equivalent treats each GeoNet response body — a
  * FeatureCollection file landing in a directory, or one fetch of the
  * `geonet` source — as one micro-batch snapshot, and [[submitSnapshots]]
  * runs the same prepared snapshot as [[graft.quakes.QuakeRunner]] on it
  * in `foreachBatch` (where the sink's update/expire contract lives).
  * `Trigger.AvailableNow` gives the scheduled-backfill behavior: process
  * everything that has landed, then stop — re-invocation is the schedule.
  *
  * At scale the landing directory is date-partitioned; the file source
  * tracks processed files in its checkpoint, so replays are exactly-once
  * per file.
  */
object QuakeStream {

  /** One row per FeatureCollection file that lands in `dir` (each file =
    * one API response snapshot): its whole text, in column `value`.
    *
    * `maxFilesPerTrigger = 1` is load-bearing for the snapshot sink:
    * one landed file IS one snapshot, and the expiry contract compares
    * consecutive snapshots. Without it, `Trigger.AvailableNow` after
    * downtime would merge every pending file into ONE micro-batch.
    * AvailableNow honors the cap by draining the backlog one file per
    * batch.
    */
  def landedBodies(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", "1")
      .text(dir)

  /** One row per GeoNet feature per fetched snapshot, via the `geonet`
    * source's micro-batch stream: every trigger performs one feed fetch
    * (or re-reads the `body`/`path` option). The reference's cron loop as
    * a continuous query.
    */
  def geonetStream(spark: SparkSession,
      options: Map[String, String]): DataFrame =
    spark.readStream.format("graft.sources.GeoNetTableProvider")
      .options(options).load()

  /** [[geonetStream]]'s fetches as bodies: one row per trigger, the
    * response text in column `value`, the shape of [[landedBodies]].
    */
  def geonetBodies(spark: SparkSession,
      options: Map[String, String]): DataFrame =
    spark.readStream.format("graft.sources.GeoNetTableProvider")
      .schema(GeoNetSource.BodySchema).options(options).load()

  /** Streaming K1 (task.ts:251-256, continuous form) with the sink's
    * CUMULATIVE expiry contract (J2, task.ts:195-203 comment). Each
    * micro-batch of `bodies` holds one response body; the sink builds its
    * snapshot with the session's [[QuakePipeline.prepare]]d snapshot for
    * `cfg`, as `QuakeRunner.run` does, and POSTs it through the transport
    * seam. A body that is not a FeatureCollection fails the query with
    * `Failed to parse data` before anything is POSTed or expired.
    * `Trigger.AvailableNow` = one snapshot per pending body (the
    * reference's semantics); a processing-time trigger polls the feed
    * continuously. Checkpointed, so a restart resumes the snapshot
    * counter instead of double-submitting batch 0.
    *
    * The clock is read once per batch, once its body is in hand: that
    * snapshot's `now` for the age filter, `stale` and `timeAgo`, as the
    * reference's one `Date.now()` per run (task.ts:184). It defaults to
    * wall time, so a long-running query stamps each batch with its own
    * instant, not the query's start. A replayed batch reads it again, as
    * a rerun of the reference's task would; a fixed or scripted clock
    * replays an archive deterministically.
    *
    * Expiry: a CloudTAK consumer holds the live feature ids across every
    * snapshot it has seen; ids live-but-absent from a snapshot expire —
    * once, in exactly the batch where they first go missing. The query
    * carries that live set ACROSS micro-batches and restarts (an
    * in-memory `var` would forget it on every restart and never expire
    * ids dropped while the query was down): it is written under
    * `checkpointDir/expiry-state/<batchId>.ids` after each batch, and a
    * batch reads the newest state OLDER than itself, so a replayed batch
    * recomputes against the same baseline and overwrites its own state —
    * idempotent. The set is snapshot-sized (one API response, ~100
    * features — task.ts:176), so driver-side text files match the scale;
    * an unbounded id universe would move this to the
    * `flatMapGroupsWithState` machinery in [[EventStreaming.expireStale]].
    *
    * @param bodies    one string column, one response body per
    *                  micro-batch: [[landedBodies]] or [[geonetBodies]]
    * @param clock     epoch millis, read once per batch
    * @param onExpired invoked once per batch with the ids this snapshot
    *                  expired (empty on batch 0 and on no-change batches)
    */
  def submitSnapshots(bodies: DataFrame, cfg: QuakeConfig, url: String,
      transport: HttpTransport, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      clock: () => Long = () => System.currentTimeMillis(),
      onExpired: (Long, Seq[String]) => Unit = (_, _) => ())
      : StreamingQuery = {
    // the caller's session, not the query's per-run clone: the prepared
    // snapshot is cached per session, so every invocation reuses one plan
    val spark = bodies.sparkSession
    val stateDir = new java.io.File(checkpointDir, "expiry-state")
    bodies.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val body = batch.collect() match {
          case Array(row) => row.getString(0)
          case rows => throw new IllegalStateException(
            s"snapshot batch $batchId holds ${rows.length} response bodies, not 1")
        }
        val (fcJson, _, ids) =
          QuakePipeline.prepare(spark, cfg).snapshotWithIds(spark, body, clock())
        val current = ids.toSet
        val live = readLiveIds(stateDir, batchId)
        val expired = (live -- current).toSeq.sorted
        GeoNetHttp.submit(transport, url, fcJson)
        onExpired(batchId, expired)
        writeLiveIds(stateDir, batchId, current)
      }
      .trigger(trigger)
      .start()
  }

  /** Live ids as of the newest committed batch strictly before `batchId`
    * (empty on the very first batch).
    */
  private def readLiveIds(stateDir: java.io.File,
      batchId: Long): Set[String] = {
    val prior = Option(stateDir.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (n.endsWith(".ids"))
          n.stripSuffix(".ids").toLongOption.filter(_ < batchId).map(_ -> f)
        else None
      }
    if (prior.isEmpty) Set.empty
    else {
      val src = scala.io.Source.fromFile(prior.maxBy(_._1)._2, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    }
  }

  private def writeLiveIds(stateDir: java.io.File, batchId: Long,
      ids: Set[String]): Unit = {
    stateDir.mkdirs()
    val tmp = new java.io.File(stateDir, s"$batchId.tmp")
    java.nio.file.Files.writeString(tmp.toPath,
      ids.toSeq.sorted.mkString("\n"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(stateDir, s"$batchId.ids").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // prune: batch N+1 reads the newest file < N+1 (= N) and a REPLAY of
    // batch N reads the newest < N (= N-1); anything older is dead and
    // would otherwise accumulate one file per micro-batch forever
    Option(stateDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      if (n.endsWith(".ids") &&
          n.stripSuffix(".ids").toLongOption.exists(_ < batchId - 1))
        f.delete()
    }
  }
}
